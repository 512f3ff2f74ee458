"""Near-duplicate detection for a training corpus — exact, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine variants.

Everything is expression-only (arrays + higher-order functions) so the
sketching pass is a single narrow projection per document; the only
shuffles are the LSH band groupBys / candidate joins — which is the point
of LSH: at 100 TB you never compare all pairs, you shuffle once on band
keys, compare within buckets, and verify candidates.

Design per operator:
  * exact       — groupBy(sha256(normalized)) keep min id. One shuffle.
  * minhash_lsh — word shingles -> one sha256-derived base hash per shingle
                  -> H universal-hash minima (signature) -> B bands of R
                  rows -> explode bands -> group per band bucket, emit
                  in-bucket pairs -> verify candidates with true Jaccard.
  * simhash     — sign-aggregated shingle hashes (60 informative bits);
                  near-dups have small Hamming distance; bucketing by
                  max_hamming+1 pigeonhole sub-keys (k differing bits
                  leave at least one of k+1 blocks untouched) — exact,
                  no false negatives at any distance bound.
  * embedding   — cosine >= threshold via band-hashed random hyperplanes.

Hash choice: the sketch hashes are sha256-derived (one crypto hash per
shingle, then cheap affine derivations mod 2^31-1) instead of xxhash64 —
bit-for-bit reproducible in any engine with sha256, which is what lets
the DuckDB driver oracle recompute signatures exactly (xxhash64 has no
DuckDB equivalent). H minhash functions cost ONE sha256 + H multiply-mods,
comparable to H xxhash64 calls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text

MERSENNE31 = 2147483647  # 2^31 - 1: universal-hash modulus (products fit a long)
PORTABLE_BITS = 60  # informative bits of portable_hash60


def portable_hash60(c: Column) -> Column:
    """60-bit non-negative hash from the sha256 hex prefix. DuckDB mirror:
    ``('0x' || substring(sha256(s), 1, 15))::UBIGINT::BIGINT``."""
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")

# ---------------- exact dedup ----------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per distinct normalized content.
    Map-side partial agg makes this one cheap shuffle at any scale."""
    h = F.sha2(normalize_text(F.col(text_col)), 256).alias("_h")
    return (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_h")
    )


def exact_dedup_keep(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return the full surviving rows (min id per normalized-content group)."""
    keep = exact_dedup(df, text_col, id_col).select(id_col)
    return df.join(keep, id_col, "left_semi")


# ---------------- shingling + minhash ----------------


def with_word_shingles(df: DataFrame, text_col: str, out_col: str, n: int = 3) -> DataFrame:
    """Staged shingling: materialize the split-words array in its own
    projection so the n-gram transform references a bound column instead of
    re-running the split per element (inlined, the split re-ran per
    n-gram: ~3x slower on real documents).

    ``try_element_at``: a doc shorter than n words indexes past the array —
    ANSI mode (Spark 4 default) would THROW on element_at; try_ returns
    null, concat_ws skips it, and the doc degrades to its partial gram
    (DuckDB mirrors this: list extract out-of-range is NULL there too)."""
    words = "_ws_words"
    out = (
        df.withColumn(words, F.split(normalize_text(F.col(text_col)), " "))
        .withColumn(
            out_col,
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size(words) - (n - 1), F.lit(1)) - 1
                    ),
                    lambda i: F.concat_ws(
                        " ", *[F.try_element_at(F.col(words), i + j + 1) for j in range(n)]
                    ),
                )
            ),
        )
        .drop(words)
    )
    return out


def minhash_base_hashes(shingles: Column) -> Column:
    """One portable base hash per shingle, reduced mod 2^31-1 so every
    affine derivation below stays overflow-free in engines with checked
    BIGINT arithmetic (DuckDB)."""
    return F.transform(shingles, lambda s: portable_hash60(s) % MERSENNE31)


def minhash_signature_from_hashes(hashes: Column, num_hashes: int = 64) -> Column:
    """H universal-hash minima over staged base hashes:
    h_i(x) = ((2i+1)*x + b_i) mod 2^31-1. `hashes` MUST be a bound column
    (see with_word_shingles' staging note) — an inline expression would
    re-evaluate its sha256 per hash function."""
    def mk(i: int):
        a = 2 * i + 1
        b = (i * 2654435761) % MERSENNE31
        return lambda h: (h * a + b) % MERSENNE31

    return F.array(
        *[F.array_min(F.transform(hashes, mk(i))) for i in range(num_hashes)]
    )


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """array<struct<band:int, h:string>> — one key per band of `rows` sig
    values. The key is the exact '|'-joined value tuple (no re-hashing):
    portable across engines and collision-free within a band."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.element_at(sig, b * rows + r + 1).cast("string") for r in range(rows)]
                ).alias("h"),
            )
            for b in range(bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard >= threshold).

    Candidate generation groups ids per band bucket and emits in-bucket
    pairs with HOFs — ONE shuffle on the band key, never all-pairs, and
    the band table is evaluated exactly once (the old self-join needed a
    persist() on each side, which leaked executor storage across calls;
    a groupBy needs no cache at all). Verification recomputes true shingle
    Jaccard on candidates only; the shingle re-derivation per join side is
    a column-pruned scan — deliberately NOT persisted, since caching wide
    intermediates inverts scaling (BENCH/BASELINE.md measurement).

    Degenerate-bucket guard: a real corpus has boilerplate repeated 10^5x;
    all its copies land in ONE band bucket, whose single collect_list row
    would expand k^2/2 pairs in one task. ``max_bucket_size`` slices each
    bucket's (sorted) id list to a cap, bounding any task at cap^2/2 pairs.
    Ids beyond the cap are DROPPED from that bucket's candidate set
    entirely (a capped bucket emits only C(cap,2) pairs); they resurface
    only if another band re-buckets them below its cap, so capped runs
    lose recall. Quantify exactly what a cap dropped with
    ``lsh_bucket_stats`` (same banding params; its ``dropped_pairs`` is
    C(size,2) - C(min(size,cap),2)), and run exact-dedup first
    (``exact_dedup_keep``) to remove the degeneracy outright. None
    disables.
    """
    rows = num_hashes // bands
    sh = with_word_shingles(df, text_col, "_sh", shingle_n).select(
        F.col(id_col).alias("_id"), "_sh"
    )
    # lean band table: (band_key, id) only — the 16x band explosion never
    # carries the shingle arrays through the shuffle. Base hashes and the
    # signature are staged as columns (else each derived hash / element_at
    # would inline+recompute the sha256 chain).
    band_tbl = (
        sh.withColumn("_bh", minhash_base_hashes(F.col("_sh")))
        .withColumn("_sig", minhash_signature_from_hashes(F.col("_bh"), num_hashes))
        .select("_id", F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("_b"))
        .select("_id", "_b")
    )
    grouped = (
        band_tbl.groupBy("_b")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        grouped = grouped.withColumn(
            "ids", F.slice(F.col("ids"), 1, max_bucket_size)
        )
    # in-bucket pair expansion: for i<j emit (ids[i], ids[j]). Bucket sizes
    # are small by LSH construction, so the quadratic stays local.
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("ids") - 2),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i + 1).alias("id_a"), j.alias("id_b")
                ),
            ),
        )
    )
    cand = (
        grouped.select(F.explode(pair_structs).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )
    # verification: attach shingles with ONE pass over the shingle
    # derivation instead of two. The former shape joined `sh` once per
    # pair side, re-running the whole normalize/split/shingle projection
    # twice more (2/3 of the operator's wall at sf1.0, r06). Here the
    # candidate pairs unpivot to (id_a, id_b, role, _id); one join pulls
    # each member's shingles (the candidate side is small by LSH
    # construction — band buckets are capped — so AQE broadcasts it and
    # the shingle side is never shuffled); a groupBy on the pair key
    # re-pairs the two sides. Same jaccard over the same arrays.
    sides = cand.select(
        "id_a",
        "id_b",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("role"), F.col("id_a").alias("_id")),
                F.struct(F.lit(1).alias("role"), F.col("id_b").alias("_id")),
            )
        ).alias("_m"),
    ).select("id_a", "id_b", "_m.role", "_m._id")
    verified = (
        sides.join(sh, "_id")
        .groupBy("id_a", "id_b")
        .agg(
            F.first(F.when(F.col("role") == 0, F.col("_sh")), ignorenulls=True).alias("sh_a"),
            F.first(F.when(F.col("role") == 1, F.col("_sh")), ignorenulls=True).alias("sh_b"),
        )
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Band-bucket size audit for ``minhash_lsh_pairs`` (same banding
    params): one row per multi-member bucket with its size and
    ``dropped_pairs`` — the number of in-bucket pairs a ``max_bucket_size``
    cap discards (C(size,2) - C(min(size,cap),2)). Sum ``dropped_pairs``
    before trusting a capped run on a new corpus; a large value means
    run exact-dedup first or raise the cap."""
    rows = num_hashes // bands
    sh = with_word_shingles(df, text_col, "_sh", shingle_n).select(
        F.col(id_col).alias("_id"), "_sh"
    )
    band_tbl = (
        sh.withColumn("_bh", minhash_base_hashes(F.col("_sh")))
        .withColumn("_sig", minhash_signature_from_hashes(F.col("_bh"), num_hashes))
        .select("_id", F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("_b"))
        .select("_id", "_b")
    )
    cap = F.lit(max_bucket_size) if max_bucket_size is not None else F.col("bucket_size")
    kept = F.least(F.col("bucket_size"), cap)
    pairs_of = lambda n: (n * (n - F.lit(1))) / F.lit(2)  # noqa: E731
    return (
        band_tbl.groupBy("_b")
        .agg(F.count("*").cast("long").alias("bucket_size"))
        .filter(F.col("bucket_size") >= 2)
        .select(
            F.col("_b.band").alias("band"),
            F.col("_b.h").alias("bucket_key"),
            "bucket_size",
            (pairs_of(F.col("bucket_size")) - pairs_of(kept))
            .cast("long")
            .alias("dropped_pairs"),
        )
    )


# ---------------- simhash ----------------


def with_simhash(df: DataFrame, text_col: str, out_col: str, shingle_n: int = 2) -> DataFrame:
    """Staged simhash over word shingles: the shingle and hash arrays are
    bound columns, so the sha256 chain runs once per shingle instead of
    once per (shingle, bit)."""
    return (
        with_word_shingles(df, text_col, "_sh_tmp", shingle_n)
        .withColumn("_h_tmp", F.transform(F.col("_sh_tmp"), portable_hash60))
        .withColumn(out_col, simhash64_from_hashes(F.col("_h_tmp"), PORTABLE_BITS))
        .drop("_sh_tmp", "_h_tmp")
    )


def simhash64_from_hashes(hashes: Column, bits: int = PORTABLE_BITS) -> Column:

    def mk(b: int):
        # NB: closure factory, not a `b=b` default arg — pyspark's HOF
        # binding treats extra lambda params as lambda variables
        return lambda acc, h: acc + (
            F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
        )

    out = F.lit(0).cast("long")
    for b in range(bits):
        cnt = F.aggregate(hashes, F.lit(0), mk(b))
        out = out.bitwiseOR(
            F.shiftleft(F.when(cnt > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), b)
        )
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_block_layout(max_hamming: int, bits: int = PORTABLE_BITS) -> list[tuple[int, int]]:
    """(offset, width) per pigeonhole block: the ``bits``-bit sketch split
    into ``max_hamming + 1`` contiguous blocks (widths differ by at most
    one). With k differing bits and k+1 blocks, at least one block is
    untouched — that block's sub-key matches, so bucketing on these blocks
    has ZERO false negatives up to ``max_hamming``. Fewer blocks would NOT
    (4 fixed quarters only cover distance <= 3); the count must scale with
    the distance bound, which is why callers never hand-pick it."""
    n_blocks = max_hamming + 1
    if not 1 <= n_blocks <= bits:
        raise ValueError(f"max_hamming must be in [0, {bits - 1}], got {max_hamming}")
    base, extra = divmod(bits, n_blocks)
    layout: list[tuple[int, int]] = []
    off = 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        layout.append((off, width))
        off += width
    return layout


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, bucketed by
    ``max_hamming + 1`` pigeonhole sub-keys (``simhash_block_layout``):
    any pair within the distance bound shares at least one untouched
    block, so candidates shuffle on sub-key — never all-pairs — with no
    false negatives. The Hamming filter then removes bucket collisions,
    making the result EXACT (identical to a brute-force all-pairs scan).
    Note the recall/width trade-off: a larger ``max_hamming`` means more,
    narrower blocks, hence bigger buckets and more candidates to verify."""
    base = (
        with_word_shingles(df, text_col, "_sh", shingle_n)
        .withColumn("_hashes", F.transform(F.col("_sh"), portable_hash60))
        .select(F.col(id_col).alias("_id"), simhash64_from_hashes(F.col("_hashes")).alias("_sim"))
    )
    layout = simhash_block_layout(max_hamming)
    blocks = base.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright(F.col("_sim"), off)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("k"),
                    )
                    for q, (off, width) in enumerate(layout)
                ]
            )
        ).alias("_q"),
    )
    left = blocks.select(F.col("_id").alias("id_a"), F.col("_sim").alias("sim_a"), "_q")
    right = blocks.select(F.col("_id").alias("id_b"), F.col("_sim").alias("sim_b"), "_q")
    return (
        left.join(right, ["_q"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------- dup clustering (connected components) ----------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Group near-dup pairs into clusters: every node gets the MINIMUM id
    reachable in its component as ``cluster_id`` — the canonical "keep one
    representative per duplicate group" step after LSH pair generation.

    Algorithm: iterative min-label propagation (label(v) = min(v, labels
    of neighbors)) run to a fixpoint — converges in O(component diameter)
    rounds, and near-dup clusters are shallow (diameter is small by
    construction), so this is a handful of hash-join rounds, never an
    all-pairs pass. Each round is one join + one groupBy on the edge list;
    the driver only checks a scalar convergence count per round. For
    graphs with long chains swap in large-star/small-star; for dup
    clusters this is the right simple tool.
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
    )
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["src"] == labels["v"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels["v"] == neigh["dst"], "left")
            .select(
                "v",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
                (F.coalesce(F.col("nlabel"), F.col("label")) < F.col("label")).alias("_chg"),
            )
        )
        # iterative fixpoint: truncate lineage each round (labels are two
        # longs per dup-graph node — tiny relative to the corpus) so round
        # k doesn't recompute rounds 0..k-1
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))


# ---------------- n-gram jaccard (direct) ----------------


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.5, n: int = 3
) -> DataFrame:
    """All-pairs n-gram Jaccard — the small-data oracle baseline the LSH
    variants approximate. O(n^2): use only on bounded groups/samples."""
    sh = with_word_shingles(df, text_col, "_sh", n).select(F.col(id_col).alias("_id"), "_sh")
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------- embedding near-dup ----------------


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def make_plane_vectors(planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1) from a 64-bit
    splitmix-style generator — plain driver-side floats, so the SAME
    literals can be embedded in an external oracle (the per-element
    xxhash64 derivation below cannot be reproduced outside Spark)."""
    out = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(planes * dim):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        out.append(z / 2.0**63 - 1.0)
    return [out[p * dim:(p + 1) * dim] for p in range(planes)]


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    plane_vectors: list[list[float]] | None = None,
    bands: int = 1,
) -> DataFrame:
    """Cosine near-dup via random-hyperplane LSH: sign-bit sketch of
    `planes` deterministic pseudo-random hyperplanes -> bucket on band
    sub-keys of the sketch -> verify cosine within buckets. High-cosine
    pairs collide with high probability; scale path shuffles on band keys
    only (never all-pairs).

    ``plane_vectors`` (from ``make_plane_vectors``) pins the hyperplanes
    as literal arrays: portable to external oracles and cheaper (a literal
    zip_with instead of one xxhash64 per (plane, element)). ``bands``
    tunes recall: 1 = strict full-sketch bucket (near-identical vectors,
    the >=0.95 dedup case); more bands catch lower-cosine pairs — e.g.
    16 planes / 8 bands of 2 bits recalls ~99%% of cosine>=0.45 pairs."""
    v = F.col(vec_col)

    if plane_vectors is not None:
        planes = len(plane_vectors)
        dots = [
            F.zip_with(v, F.array(*[F.lit(float(x)) for x in pv]), lambda x, y: x * y)
            for pv in plane_vectors
        ]
    else:

        def plane_dot_hash(p: int):
            # hyperplane component h(p, i) in [-1, 1): deterministic from (p, i)
            return lambda x, i: x * (
                F.xxhash64(F.lit(f"plane{p}"), i).cast("double") / F.lit(2.0**63)
            )

        dots = [
            F.zip_with(v, F.sequence(F.lit(0), F.size(v) - 1), plane_dot_hash(p))
            for p in range(planes)
        ]

    sketch_bits = [
        F.when(
            F.aggregate(dot, F.lit(0.0), lambda acc, t: acc + t) > 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for dot in dots
    ]
    # band the sign bits (minhash-style): candidate iff ANY band of
    # `planes // bands` bits matches — bands=1 degenerates to the strict
    # full-sketch bucket (only near-identical vectors collide); more bands
    # trade candidate volume for recall at lower cosine thresholds
    rows = planes // bands
    band_keys = []
    for bi in range(bands):
        key = F.lit(0).cast("long")
        for r in range(rows):
            key = key.bitwiseOR(
                F.shiftleft(sketch_bits[bi * rows + r].cast("long"), r)
            )
        band_keys.append(F.struct(F.lit(bi).alias("band"), key.alias("k")))
    base = df.select(
        F.col(id_col).alias("_id"), v.alias("_v"),
        F.explode(F.array(*band_keys)).alias("_bk"),
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("v_a"), "_bk")
    b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("v_b"), "_bk")
    return (
        a.join(b, ["_bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
