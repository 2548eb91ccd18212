"""Document deduplication at corpus scale.

Four tiers, all expressed as DataFrame programs (one shuffle each where
possible; 100% native column expressions — zero Python on any path):

- exact:      hash-groupBy on canonical text (one shuffle)
- minhash+LSH: shingle → hash shingles once → k minhashes → b bands →
              bucket join → Jaccard verify ON THE HASHED SHINGLES
              (array<long>, ~5-10× fewer verify-shuffle bytes than the
              original strings; exact up to 64-bit collisions)
- simhash:    64-bit simhash as a pure native expression (token
              xxhash64 + per-bit fold votes), banded into equal-width
              chunks → candidates → Hamming verify (bit_count(xor))
- n-gram Jaccard: exact verify used standalone for small candidate sets

Scale notes: candidate generation is always *bucket-local* (groupBy on
band/chunk values) so the shuffle volume is O(docs × bands), never the
O(n²) cross join; verification joins only the candidate pairs back to
the shingle sets.  Hot buckets (boilerplate shingles) are capped by
``max_bucket`` to bound worst-case pair blowup — the same skew defense
as the CDC salting, applied to near-dup mining.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cwds_jobs_spark.functions.canon import canonical_text_col


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct canonical text: keeper id + duplicate count."""
    return (
        df.select(
            F.md5(canonical_text_col(text_col)).alias("text_hash"),
            F.col(id_col).cast("long").alias(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------------------- shingles

def shingles(df: DataFrame, text_col: str = "text", n: int = 3,
             out_col: str = "shingles") -> DataFrame:
    """Distinct word n-gram shingles per doc — native, no UDF."""
    toks = F.split(F.lower(canonical_text_col(text_col)), r"\s+")
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return df.withColumn(
        out_col, F.when(k > 0, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))
    )


def ngram_jaccard(a_col: str, b_col: str):
    inter = F.size(F.array_intersect(F.col(a_col), F.col(b_col)))
    union = F.size(F.array_union(F.col(a_col), F.col(b_col)))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ------------------------------------------------------------- minhash

def shingle_hashes(shingle_col: str, seed: int = 7):
    """Hash each shingle string ONCE to a long (the expensive pass)."""
    return F.transform(F.col(shingle_col), lambda s: F.xxhash64(s, F.lit(seed)))


def minhash_signature_from_hashes(hash_col: str, num_hashes: int = 32):
    """array<long> of k minhashes from pre-hashed shingles.

    The k-member hash family re-hashes the 8-byte long
    (``xxhash64(h, i)``) instead of the original string — one string
    pass total + k cheap long passes, ~10x less hashing work than
    k string passes.
    """
    col = F.col(hash_col)
    empty = F.size(col) == 0
    # NB: the lambda must take exactly one arg — a second arg (even a
    # defaulted one) makes PySpark bind it to the array-index column,
    # silently collapsing the whole hash family to one function.
    # PySpark invokes the lambda eagerly inside F.transform, so the
    # loop-variable closure binds the intended i.
    mins = [
        F.array_min(F.transform(col, lambda h: F.xxhash64(h, F.lit(int(i)))))
        for i in range(num_hashes)
    ]
    return F.when(empty, F.lit(None)).otherwise(F.array(*mins))


def minhash_signature(shingle_col: str, num_hashes: int = 32, seed: int = 7):
    """Back-compat wrapper: string shingles -> k minhashes directly.
    Callers on the hot path should materialize :func:`shingle_hashes`
    in a separate projection first so the string pass runs once."""
    col = F.col(shingle_col)
    empty = F.size(col) == 0
    base = F.transform(col, lambda s: F.xxhash64(s, F.lit(seed)))
    mins = [
        F.array_min(F.transform(base, lambda h: F.xxhash64(h, F.lit(int(i)))))
        for i in range(num_hashes)
    ]
    return F.when(empty, F.lit(None)).otherwise(F.array(*mins))


def hashed_shingles(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    seed: int = 7,
    out_col: str = "sh",
) -> DataFrame:
    """(id, array<long>) distinct hashed shingles — the compact corpus
    representation shared by candidate generation AND verification.
    One string pass per doc; everything downstream touches only longs.
    """
    return (
        shingles(df.select(id_col, text_col), text_col, n=shingle_n)
        .withColumn(out_col, F.array_distinct(shingle_hashes("shingles", seed)))
        .select(id_col, out_col)
    )


def minhash_lsh_candidates_from_hashes(
    hdf: DataFrame,
    *,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 50,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded minhash LSH
    over a pre-hashed shingle table (see :func:`hashed_shingles`).

    A pair with Jaccard J becomes a candidate with probability
    1 - (1 - J^r)^b, r = num_hashes/bands.  With r=1 (bands ==
    num_hashes) recall at J ≥ 0.5 is 1 - (1-J)^b — effectively
    complete for b ≥ 16; larger r trades recall at low J for fewer
    spurious buckets at corpus scale.
    """
    rows_per_band = num_hashes // bands
    sig = (
        hdf
        # separate projections: the min-passes run over the already-
        # materialized long arrays (CollapseProject keeps expensive
        # exprs from being duplicated across references)
        .withColumn("sig", minhash_signature_from_hashes(hash_col, num_hashes))
        .filter(F.col("sig").isNotNull())
    )
    band_vals = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(",", *[
                        F.element_at("sig", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ])
                ).alias("bhash"),
            )
            for b in range(bands)
        ]
    )
    exploded = (
        sig.select(F.col(id_col).alias("id"), F.explode(band_vals).alias("bv"))
        .select("id", F.col("bv.band").alias("band"), F.col("bv.bhash").alias("bhash"))
    )
    buckets = (
        exploded.groupBy("band", "bhash")
        .agg(F.collect_list("id").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = (
        buckets.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "ids",
                            lambda a: F.transform(
                                "ids", lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))
                            ),
                        )
                    ),
                    lambda p: p["id_a"] < p["id_b"],
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return pairs


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 50,
    seed: int = 7,
) -> DataFrame:
    """Raw-text convenience wrapper: shingle+hash, then band LSH."""
    hdf = hashed_shingles(
        df, id_col=id_col, text_col=text_col, shingle_n=shingle_n, seed=seed
    )
    return minhash_lsh_candidates_from_hashes(
        hdf, id_col=id_col, num_hashes=num_hashes, bands=bands,
        max_bucket=max_bucket,
    )


def near_dups_from_hashed(
    hdf: DataFrame,
    *,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 50,
) -> DataFrame:
    """LSH candidates over a hashed-shingle table, verified by exact
    Jaccard ≥ threshold computed ON THE HASHES (array<long> — the
    verify join ships ~5-10× fewer bytes than string shingle arrays;
    Jaccard on 64-bit shingle hashes equals string Jaccard up to
    negligible collisions)."""
    sh_a = hdf.select(F.col(id_col).alias("id_a"), F.col(hash_col).alias("sh_a"))
    sh_b = hdf.select(F.col(id_col).alias("id_b"), F.col(hash_col).alias("sh_b"))
    cand = minhash_lsh_candidates_from_hashes(
        hdf, id_col=id_col, hash_col=hash_col, num_hashes=num_hashes,
        bands=bands, max_bucket=max_bucket,
    )
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(ngram_jaccard("sh_a", "sh_b"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dups(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 3,
    seed: int = 7,
    **kw,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold.

    Shingling+hashing runs once and is cached for the run: the
    candidate pass and both sides of the verification join reuse the
    compact hashed form instead of re-shingling the corpus three times.
    """
    hdf = hashed_shingles(
        df, id_col=id_col, text_col=text_col, shingle_n=shingle_n, seed=seed
    ).persist()
    try:
        return (
            near_dups_from_hashed(
                hdf, id_col=id_col, threshold=threshold, **kw
            )
            .localCheckpoint()  # materialize before unpersisting the cache
        )
    finally:
        hdf.unpersist()


# -------------------------------------------------------------- simhash

def simhash_col(text_col: str, seed: int = 7):
    """64-bit SimHash as a pure native column expression — no Python.

    tokens = whitespace-split of the lowercased canonical text; each
    token hashed once with ``xxhash64``; per bit i the vote is
    ``2·count(tokens with bit i set) − n_tokens`` (one ``aggregate``
    fold per bit, no array allocation); the signature sets bit i when
    the vote is positive.  Replaces the round-1 Arrow UDF whose kernel
    was a per-doc/per-token Python loop (blake2b per token) — this
    form stays inside whole-stage codegen end-to-end.
    """
    toks = F.filter(
        F.split(F.lower(canonical_text_col(text_col)), r"\s+"),
        lambda x: x != "",
    )
    hs = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))
    return hs  # finished by _simhash_from_hashes (separate projection)


def _simhash_from_hashes(hash_col: str):
    h = F.col(hash_col)
    n = F.size(h)
    terms = []
    for i in range(64):
        # one-arg-pair lambda only (see minhash_signature_from_hashes);
        # F.aggregate invokes it eagerly so the loop closure binds i
        cnt = F.aggregate(
            h,
            F.lit(0),
            lambda acc, x: acc
            + F.shiftrightunsigned(x, int(i)).bitwiseAND(F.lit(1)).cast("int"),
        )
        mask = (1 << i) if i < 63 else -(1 << 63)  # bit 63 = sign bit
        terms.append(F.when(2 * cnt > n, F.lit(mask)).otherwise(F.lit(0)).cast("long"))
    sig = functools.reduce(lambda a, b: a.bitwiseOR(b), terms)
    return F.when(n > 0, sig).otherwise(F.lit(0))


def simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash",
            seed: int = 7) -> DataFrame:
    # two projections so the token-hash array materializes once and the
    # 64 bit-folds reference it (CollapseProject would otherwise inline
    # the tokenize+hash expression 64×)
    return (
        df.withColumn("_th", simhash_col(text_col, seed))
        .withColumn(out_col, _simhash_from_hashes("_th"))
        .drop("_th")
    )


def _pick_chunks(max_hamming: int, order: int = 1) -> int:
    """Smallest chunk count (divisor of 64) whose pigeonhole guarantee
    covers ``max_hamming`` at the given order: with c chunks and at
    most h flipped bits, at most h chunks are touched, so any pair
    within Hamming ≤ h shares at least ``c - h`` exact chunks — an
    exact single chunk needs c ≥ h+1 (order 1), an exact chunk PAIR
    needs c ≥ h+2 (order 2)."""
    for c in (2, 4, 8, 16, 32):
        if c >= max_hamming + order:
            return c
    return 64


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket: int = 100,
    n_chunks: int | None = None,
    pigeonhole_order: int = 1,
) -> DataFrame:
    """Near-dup pairs from a (id, simhash) table: band the 64 bits
    into ``n_chunks`` equal chunks — pigeonhole guarantees any pair
    within Hamming ≤ n_chunks-1 shares an exact chunk — then verify
    with ``bit_count(xor)``.

    ``pigeonhole_order=2`` banks on chunk PAIRS instead of single
    chunks (valid whenever ``n_chunks - max_hamming >= 2``: at most
    ``max_hamming`` chunks are touched, so two clean chunks — hence
    one clean pair — always survive).  The bucket key space widens
    from 2^width to 2^(2*width), which matters at scale: with 8-bit
    single chunks there are only 256 bucket values per chunk position,
    so beyond ~256*max_bucket rows EVERY bucket overflows the hot-
    bucket cap and candidate generation silently dries up.  Order 2
    trades C(k,2)/k more exploded rows (3.5x at k=8) for buckets
    2^width times smaller.

    Scale boundary (measured, BASELINE.md): the 64-bit fingerprint
    bounds the order-2 key space at 2^16, so in-bucket candidates
    grow as n²/2^16 once the corpus outgrows ~2^16 rows per shard —
    sub-linear at 500k docs (slope 0.89 for a 50k→500k step), super-
    linear by 5M (1.41).  Banded simhash has no corpus-size knob
    inside a fixed-width fingerprint (unlike minhash bands); past
    ~10⁶ rows per shard use a wider fingerprint, Manku-style
    sorted-fingerprint probing, or prefer the minhash miner."""
    if n_chunks is None:
        n_chunks = _pick_chunks(max_hamming, pigeonhole_order)
    assert pigeonhole_order in (1, 2), pigeonhole_order
    assert 64 % n_chunks == 0 and n_chunks >= max_hamming + pigeonhole_order, (
        f"n_chunks={n_chunks} cannot guarantee recall at hamming "
        f"{max_hamming} with pigeonhole order {pigeonhole_order}"
    )
    width = 64 // n_chunks
    mask = (1 << width) - 1
    sh = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("simhash"))

    def _chunk_val(c: int):
        return (
            F.shiftrightunsigned(F.col("simhash"), c * width)
            .bitwiseAND(F.lit(mask))
        )

    if pigeonhole_order == 1:
        keys = [
            F.struct(F.lit(c).alias("chunk"), _chunk_val(c).alias("val"))
            for c in range(n_chunks)
        ]
    else:
        # composite key per chunk pair (c1<c2): table id c1*k+c2, value
        # v1*2^width + v2 — both plain longs, same group-by shape below
        keys = [
            F.struct(
                F.lit(c1 * n_chunks + c2).alias("chunk"),
                (
                    F.shiftleft(_chunk_val(c1), width)
                    .bitwiseOR(_chunk_val(c2))
                ).alias("val"),
            )
            for c1 in range(n_chunks)
            for c2 in range(c1 + 1, n_chunks)
        ]
    chunks = F.array(*keys)
    ex = sh.select(
        "id", F.col("simhash"), F.explode(chunks).alias("cv")
    ).select("id", "simhash", "cv.chunk", "cv.val")
    b = (
        ex.groupBy("chunk", "val")
        .agg(F.collect_list(F.struct("id", "simhash")).alias("xs"))
        .filter((F.size("xs") > 1) & (F.size("xs") <= max_bucket))
    )
    pairs = (
        b.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "xs",
                            lambda a: F.transform(
                                "xs",
                                lambda c: F.struct(
                                    a["id"].alias("id_a"),
                                    c["id"].alias("id_b"),
                                    a["simhash"].alias("h_a"),
                                    c["simhash"].alias("h_b"),
                                ),
                            ),
                        )
                    ),
                    lambda p: p["id_a"] < p["id_b"],
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


def simhash_near_dups(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 100,
    n_chunks: int | None = None,
    pigeonhole_order: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Raw-text convenience wrapper: native simhash, then banded
    candidate mining + Hamming verify (see simhash_pairs_from_sigs)."""
    sigs = simhash(df.select(id_col, text_col), text_col, seed=seed)
    return simhash_pairs_from_sigs(
        sigs.select(id_col, "simhash"),
        id_col=id_col,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
        n_chunks=n_chunks,
        pigeonhole_order=pigeonhole_order,
    )
