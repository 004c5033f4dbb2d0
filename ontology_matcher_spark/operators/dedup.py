"""Deduplication operators for a training-data corpus (driver-mandated):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB:
- exact dedup is a hash-groupBy on the fingerprint (map-side partial
  agg; no skew — fingerprints are uniform);
- MinHash/SimHash signatures are pure column expressions over shingle
  arrays (codegen'd, no Python); LSH banding turns near-dup search
  into an equi-join on (band, band_hash) — candidate pairs only, never
  the O(n²) cross product;
- pair verification (exact Jaccard / cosine) runs only on LSH-bucketed
  candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ontology_matcher_spark.functions.guards import (
    DEFAULT_MAX_BUCKET,
    apply_bucket_guard,
)
from ontology_matcher_spark.functions.materialize import materialize
from ontology_matcher_spark.operators.text import word_tokens

# ------------------------------------------------------------------ exact
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-normalized-text
    group (hash-groupBy; survivors flagged)."""
    normalized = F.array_join(word_tokens(F.col(text_col)), " ")
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        df.withColumn("__fp", F.md5(normalized))
        .withColumn("dup_rank", F.row_number().over(w))
        .withColumn("is_duplicate", F.col("dup_rank") > 1)
        .drop("__fp")
    )


# ------------------------------------------------------------- shingles
def shingles_of_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-shingles (distinct) of a token-array column.

    Hot paths should project the token array FIRST and pass the plain
    column here: inlining ``word_tokens(text)`` makes every branch of
    this CASE re-run the regex split per row (~8 evaluations in the
    round-5 plan) and bloats the generated explode code."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    gram = lambda i: F.array_join(F.slice(toks, i + 1, k), " ")  # noqa: E731
    return F.when(n >= k, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.when(n > 0, F.array(F.array_join(toks, " "))).otherwise(
            F.array().cast("array<string>")
        )
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles (distinct) of normalized text."""
    return shingles_of_tokens(word_tokens(text), k)


# ------------------------------------------------------------- minhash
_MERSENNE = 2147483647  # 2^31 - 1


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randint(1, _MERSENNE - 1), rng.randint(0, _MERSENNE - 1))
        for _ in range(num_hashes)
    ]


def _base_hash(col: Column, hash_fn: str) -> Column:
    """31-bit base hash of a shingle string.

    ``xxhash64`` (default) is the production hash — native, codegen'd,
    fastest. ``md5`` derives the value as
    ``conv(substr(md5(s),1,15),16,10)`` (60 bits, then mod Mersenne) —
    bit-identical to DuckDB's ``CAST('0x'||substr(md5(s),1,15) AS
    BIGINT)``, which puts the WHOLE minhash/banding algebra under the
    SQL oracle gate (xxhash64 has no DuckDB equivalent)."""
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        h = F.xxhash64(col)
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return F.pmod(h, F.lit(_MERSENNE))


def _band_hash(band: int, elems: list[Column], hash_fn: str) -> Column:
    """Bucket hash of one band's signature rows (same two strategies
    as `_base_hash`; md5 hashes the comma-joined decimal rendering,
    which DuckDB reproduces with concat_ws)."""
    if hash_fn == "md5":
        joined = F.concat_ws(
            ",", F.lit(band).cast("string"), *[e.cast("string") for e in elems]
        )
        return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("long")
    return F.xxhash64(F.lit(band), *elems)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k_shingle: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) via explode + 32 `min`
    aggregates — whole-stage-codegen'd, map-side partial aggregation,
    no interpreted higher-order functions. THIS is the 100 TB shape:
    the shuffle carries one 32-long row per doc, min combines locally.
    a·h+b < 2^62 so no ANSI overflow."""
    params = _affine_params(num_hashes)
    # tokenize ONCE per row in a projection, then shingle the token
    # array: the fused form re-ran the regex split in every CASE
    # branch of the explode expression
    sh = df.select(
        F.col(id_col).alias("id"),
        word_tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "id",
        F.explode(shingles_of_tokens(F.col("__toks"), k_shingle)).alias("s"),
    )
    h = sh.select("id", _base_hash(F.col("s"), hash_fn).alias("h"))
    # pre-project the affine transforms into plain columns, then
    # aggregate trivial min(p_i): identical arithmetic, but the
    # generated code for the (partial + final) HashAggregate no longer
    # inlines all num_hashes pmod expressions into its update
    # functions — the round-5 form cost ~2 s of first-run codegen
    # compile on this query alone (the driver bench always pays it)
    proj = h.select(
        "id",
        *[
            F.pmod(F.col("h") * a + b, F.lit(_MERSENNE)).alias(f"p{i}")
            for i, (a, b) in enumerate(params)
        ],
    )
    sig = proj.groupBy("id").agg(
        *[F.min(f"p{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    return sig.select(
        "id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    drop_stats: dict | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding.

    signature → ``bands`` bands of ``num_hashes/bands`` rows; docs
    sharing any band-hash are candidates. Output: (id_a, id_b,
    jaccard_est) with id_a < id_b, deduped across bands.

    ``max_bucket`` (ON by default — the O(bucket²) boilerplate blow-up
    it guards against only appears in production corpora) drops
    (band, hash) buckets wider than this many DISTINCT signatures;
    exact-duplicate pileups never trip it because signature-identical
    docs are collapsed to one representative before banding. NOTE:
    default ON since round 3 — callers needing provably complete pair
    sets must pass None. Drops are never silent: logged, written into
    the caller's ``drop_stats`` dict (the reliable channel), and
    mirrored in guards.LAST_DROP_STATS (process-local, last-call-wins
    convenience only)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k_shingle, hash_fn)

    # collapse signature-identical docs FIRST (exact duplicates above
    # all): one row per distinct signature enters the banded join, so a
    # k-wide duplicate group costs 1 join row instead of O(k²) bucket
    # blow-up; member pairs are re-expanded afterwards (est = 1.0
    # within a group — identical signatures). The expansion is linear
    # in OUTPUT pairs, which is optimal.
    grp = sig.groupBy("sig").agg(
        F.min("id").alias("id"),
        F.sort_array(F.collect_list("id")).alias("members"),
    )
    # materialize the signature groups ONCE: they feed three consumers
    # (both sides of the banded self-join AND the intra-group branch) —
    # un-materialized, each consumer re-runs the whole shingle →
    # signature aggregation from the raw corpus (the round-5 plan
    # executed it twice per call). One row per DISTINCT signature, so
    # this is the narrowest point to cut; the band explode below is a
    # cheap projection recomputed per consumer.
    grp = materialize(grp, "mh-grp")

    # band hash over the band's signature rows (multi-arg hash over
    # element_at — stays in codegen, no lambdas)
    banded = grp.select(
        "id",
        "sig",
        "members",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_hash(
                            b,
                            [
                                F.element_at("sig", b * rows_per_band + j + 1)
                                for j in range(rows_per_band)
                            ],
                            hash_fn,
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "id", "sig", "members",
        F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"),
    )

    if max_bucket is not None:
        banded, stats = apply_bucket_guard(
            banded, ["band", "bh"], max_bucket, "minhash_lsh_pairs"
        )
        if drop_stats is not None:
            drop_stats.update(stats)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
            F.col("a.members").alias("members_a"),
            F.col("b.members").alias("members_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(num_hashes)
    )
    cross = (
        pairs.select(est.alias("jaccard_est"), "members_a", "members_b")
        .select("jaccard_est", F.explode("members_a").alias("ma"), "members_b")
        .select("jaccard_est", "ma", F.explode("members_b").alias("mb"))
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard_est",
        )
    )
    intra = (
        grp.where(F.size("members") > 1)
        .select(F.explode("members").alias("ma"), "members")
        .select("ma", F.explode("members").alias("mb"))
        .where(F.col("ma") < F.col("mb"))
        .select(
            F.col("ma").alias("id_a"),
            F.col("mb").alias("id_b"),
            F.lit(1.0).alias("jaccard_est"),
        )
    )
    return cross.unionByName(intra)


# -------------------------------------------------------------- simhash
#: signature width cap: the assembled signature is a BIGINT literal sum
#: of 2^i terms; 2^62 is the largest power-of-two long literal whose
#: positive sum stays in range under ANSI mode (2^63 overflows — it
#: threw NumberFormatException on expression construction at round 1).
SIMHASH_MAX_BITS = 62


def simhash(text: Column, bits: int = SIMHASH_MAX_BITS) -> Column:
    """SimHash over word tokens: sign-sum of per-token hash bits,
    assembled into one BIGINT. Array-lambda form for ad-hoc column use;
    prefer `simhash_signatures` (explode + codegen'd sums) in hot
    paths — higher-order functions evaluate interpreted."""
    if not 1 <= bits <= SIMHASH_MAX_BITS:
        raise ValueError(f"bits must be in [1, {SIMHASH_MAX_BITS}], got {bits}")
    toks = word_tokens(text)
    bit_cols = []
    for i in range(bits):
        contrib = F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bit_cols.append(
            F.when(contrib > 0, F.lit(1)).otherwise(F.lit(0)).cast("long") * F.lit(2**i)
        )
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_MAX_BITS,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sim: bigint) via explode + ``bits`` codegen'd SUM aggregates
    (map-side partial agg) — the 100 TB shape, mirroring
    `minhash_signatures`: the shuffle carries ``bits`` ints per doc and
    the sums combine locally; no interpreted higher-order functions.

    ``hash_fn="md5"`` (max 60 bits — the md5-prefix hash is 60 bits
    wide) swaps the token hash for the DuckDB-reproducible
    conv(substr(md5,1,15),16,10) form so the signature+banding algebra
    can sit under the SQL oracle gate; xxhash64 stays the production
    default."""
    if not 1 <= bits <= SIMHASH_MAX_BITS:
        raise ValueError(f"bits must be in [1, {SIMHASH_MAX_BITS}], got {bits}")
    if hash_fn == "md5":
        if bits > 60:
            raise ValueError(f"md5 hash provides 60 bits, got bits={bits}")
        th = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        th = F.xxhash64("t")
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_tokens(F.col(text_col))).alias("t"),
    ).select("id", th.alias("h"))
    # pre-project the ±1 bit terms, then aggregate trivial sum(b_i) —
    # same codegen-size reduction as minhash_signatures: the
    # (partial + final) sum aggregate no longer inlines ``bits``
    # shift/when expressions into its update functions
    proj = tok.select(
        "id",
        *[
            F.when(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1).alias(f"b{i}")
            for i in range(bits)
        ],
    )
    agg = proj.groupBy("id").agg(
        *[F.sum(f"b{i}").alias(f"c{i}") for i in range(bits)]
    )
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"c{i}") > 0, F.lit(2**i)).otherwise(F.lit(0)).cast("long")
        sig = term if sig is None else sig + term
    return agg.select("id", sig.alias("sim"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_MAX_BITS,
    n_blocks: int = 4,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the ``bits``-wide signature into
    ``n_blocks`` contiguous blocks; any pair with hamming distance
    < n_blocks must agree on at least one whole block, so candidate
    generation is an equi-join on (block_idx, block_value) — never the
    O(n²) cross product. Requires n_blocks > max_hamming for 100%
    recall. Verification = bit_count(xor) ≤ max_hamming, codegen'd.

    Output: (id_a, id_b, hamming) with id_a < id_b."""
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming}) "
            "for pigeonhole recall"
        )
    sig = simhash_signatures(df, text_col, id_col, bits, hash_fn)
    width = bits // n_blocks
    blocks = []
    for j in range(n_blocks):
        lo = j * width
        w = bits - lo if j == n_blocks - 1 else width  # last block takes remainder
        blocks.append(
            F.struct(
                F.lit(j).alias("blk"),
                F.shiftright(F.col("sim"), lo).bitwiseAND(F.lit((1 << w) - 1)).alias("bv"),
            )
        )
    banded = sig.select(
        "id", "sim", F.explode(F.array(*blocks)).alias("bb")
    ).select("id", "sim", F.col("bb.blk").alias("blk"), F.col("bb.bv").alias("bv"))
    banded = materialize(banded, "sh-banded")  # signatures computed once, not per join side
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over inverted-index candidates: explode
    shingles → self-join on shingle (co-occurrence counts) → Jaccard
    from |A∩B| / (|A|+|B|-|A∩B|). Never materializes the cross
    product; shuffle keys are shingles.

    ``max_shingle_df``: drop shingles whose document frequency exceeds
    this cap BEFORE the self-join (stopword-shingle guard — a shingle
    in d docs yields O(d²) join rows; boilerplate shingles dominate at
    scale and carry no discriminative signal). With the cap set the
    Jaccard is computed over the surviving shingle universe on BOTH
    the intersection and the set sizes, so it remains a true Jaccard
    of the filtered sets; None (default) = exact."""
    sh = df.select(
        F.col(id_col).alias("id"),
        word_tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "id", F.explode(shingles_of_tokens(F.col("__toks"), k_shingle)).alias("s")
    )
    if max_shingle_df is not None:
        dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
        keep = dfreq.where(F.col("__df") <= max_shingle_df).select("s")
        sh = sh.join(keep, "s", "left_semi")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
    )
    return jac.select("id_a", "id_b", "jaccard")
