"""Deduplication operators — the core LLM-pretraining-data family.

All four flavors are pure DataFrame compositions (no Python UDFs), so
they scale with the cluster and stay inside whole-stage codegen:

- exact         : hash-groupBy on normalized text (one shuffle on a
                  32-byte key — the minimum possible for global dedup)
- MinHash + LSH : shingle → per-seed min-hash signature → band buckets
                  → candidate equi-join → exact-Jaccard verify. The
                  classic Broder scheme; the only joins are equi-joins
                  on band keys, so there is NO pairwise blowup: cost is
                  O(N·S) for signatures + O(candidate pairs) verify.
- SimHash       : per-word md5 bit votes → 64-bit signature per doc;
                  near-dup candidates share signature prefixes.
- embedding     : cosine ≥ τ within a blocking key (label/bucket) —
                  blocked self-join, never a full cross product.

Determinism: every hash is md5 over an explicit string encoding, so
signatures are stable across engines, runs, and partitionings — which
is also what makes these oracle-checkable in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.text import normalized_text, word_shingles
from quick_and_easy_vectordb_spark.functions.vector import cosine_similarity
from quick_and_easy_vectordb_spark.operators.util import ensure_parallelism

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "lsh_band_table",
    "lsh_candidate_pairs",
    "lsh_mega_clusters",
    "jaccard_pairs",
    "simhash_signatures",
    "embedding_near_dups",
]


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Group identical (optionally normalized) texts.

    Returns one row per distinct text: ``content_hash``, canonical
    ``keep_id`` (min id — deterministic survivor pick), ``n_copies``.
    Only the 32-byte hash and the id are shuffled; the text itself
    never leaves the map side. (Reference analog: none — the reference
    permits duplicates silently, /root/reference/app.py:102-118.)
    """
    key = normalized_text(text_col) if normalize else F.col(text_col)
    return (
        df.select(F.md5(key).alias("content_hash"), F.col(id_col).alias("id"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
) -> DataFrame:
    """Exploded distinct-shingle relation (id, shingle) — the shared
    upstream of MinHash signatures AND exact-Jaccard verification.
    Build it once per pipeline and ``persist()`` it: every consumer
    re-deriving shingles from raw text is the dominant avoidable cost
    in a dedup run (measured 3× recomputation before this refactor).

    ``ensure_parallelism`` scatters small scans so the md5-heavy
    downstream uses every core regardless of input split count.
    """
    return ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select("id", F.explode(word_shingles(text_col, shingle_words)).alias("shingle"))


def minhash_signatures(
    shingles: DataFrame,
    num_hashes: int = 12,
) -> DataFrame:
    """Per-document MinHash signature from a (id, shingle) relation
    via Kirsch–Mitzenmacher double hashing: ONE md5 per shingle yields
    two 48-bit integers (h1, h2); hash family member s is h1 + s*h2
    (exact in int64 — max ~2^52). This replaces num_hashes md5 calls
    per shingle with one md5 plus num_hashes integer fmas, and min()
    runs over longs instead of 32-char strings (~4x faster signature
    stage, measured).

    All ``num_hashes`` mins run in ONE codegen'd hash aggregation with
    map-side partial min — each partition collapses to ≤1 row per doc
    before the shuffle, so shuffle volume is O(docs · num_hashes)
    longs, never O(shingles).
    """
    # Single-parse SQL projections (round-14): the identical tree
    # built with Column operators costs ~40 py4j round trips at
    # ~2.7 ms each on this sandbox — pure driver latency per plan.
    pre = shingles.selectExpr(
        "id",
        "CAST(conv(substring(md5(shingle), 1, 12), 16, 10) AS BIGINT)"
        " AS h1",
        "CAST(conv(substring(md5(shingle), 17, 12), 16, 10) AS BIGINT)"
        " AS h2",
    )
    aggs = [
        F.expr(f"min(h1 + {s} * h2) AS mh{s}") for s in range(num_hashes)
    ]
    return pre.groupBy("id").agg(*aggs)


def minhash_doc_table(
    shingles: DataFrame,
    num_hashes: int = 12,
) -> DataFrame:
    """Signatures AND the per-doc distinct-shingle array in ONE
    aggregation: (id, mh0..mh{n-1}, shs). The verify-and-band
    pipelines each need both — computing them separately shuffles the
    shingle relation twice (minhash partials, then collect_list) and
    forces a persist of the exploded shingle table between them
    (round-14 measurement: the split shape cost ~1 s extra per dedup
    bench query at sf0.1). One groupBy(id) carries the min partials
    and the list partials through the same exchange; downstream
    projections prune whichever half they don't read (InMemoryTableScan
    column-prunes cached batches). Results are identical to
    :func:`minhash_signatures` + a separate collect_list by
    construction — same aggregates, same grouping."""
    pre = shingles.selectExpr(
        "id",
        "shingle",
        "CAST(conv(substring(md5(shingle), 1, 12), 16, 10) AS BIGINT)"
        " AS h1",
        "CAST(conv(substring(md5(shingle), 17, 12), 16, 10) AS BIGINT)"
        " AS h2",
    )
    aggs = [
        F.expr(f"min(h1 + {s} * h2) AS mh{s}") for s in range(num_hashes)
    ]
    aggs.append(F.collect_list("shingle").alias("shs"))
    return pre.groupBy("id").agg(*aggs)


def lsh_band_table(
    signatures: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(id, band, key) relation: the signature split into ``bands``
    groups of ``num_hashes/bands`` hashes, each group md5-collapsed to
    a band key. Two docs land in the same (band, key) bucket iff they
    agree on ALL hashes of that band (the AND half of the classic
    AND-OR LSH construction)."""
    rows_per_band = num_hashes // bands
    # 16 hex chars (64 bits): the key only partitions buckets, and
    # halving it cuts ~40% of the (band, key) shuffle row; collision
    # odds are birthday-bounded at ~2e-6 even for ~10M buckets.
    # Oracles mirror with substr(md5(...), 1, 16). Measured on
    # band_tuning: the 30x probe point dropped 11.9s -> 2.6-3.6s
    # (SCALING.md round-14 re-probe). Assembled as ONE SQL string
    # (round-14: Column assembly of the band structs costs ~bands·10
    # py4j round trips of driver latency per plan).
    band_structs = []
    for b in range(bands):
        members = ", ".join(
            f"CAST(mh{s} AS STRING)"
            for s in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        band_structs.append(
            f"named_struct('band', {b}, 'key', "
            f"substring(md5(concat_ws('|', {members})), 1, 16))"
        )
    return signatures.selectExpr(
        "id", "explode(array(" + ", ".join(band_structs) + ")) AS bk"
    ).selectExpr("id", "bk.band AS band", "bk.key AS key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on at least one full
    band. One shuffle keyed on (band, band-key); pair expansion is a
    per-bucket array expression over the sorted member list (a
    self-join would re-evaluate the signature pipeline per side).

    Hot-bucket cap (ENFORCED, round-5): pairing a k-member bucket is
    O(k²) by nature, so a pathologically hot bucket — boilerplate
    shared by 10⁶ docs at 100 TB — would pair-expand into 10¹² rows
    and stall the stage. Buckets larger than ``max_bucket_size`` are
    therefore EXCLUDED here and surfaced by :func:`lsh_mega_clusters`
    as ready-made duplicate clusters instead: members of a hot bucket
    already agree on a full band, which at that multiplicity is
    overwhelming evidence of shared boilerplate — pairwise Jaccard
    verification adds nothing but cost. The cap is applied as a
    COUNT window over the (band, key) partitioning the bucket
    aggregation needs anyway: one shuffle serves the size check, the
    member filter, and the member-list build (the window's output
    partitioning satisfies the groupBy, so Catalyst inserts no second
    exchange), and a hot bucket's members are dropped BEFORE any
    member list materializes — no O(hot) member ARRAY and no O(hot²)
    pair expansion ever exists. (WindowExec itself still buffers the
    rows of a hot (band, key) partition — that buffer is spillable
    and O(hot) rows of (band, key, id), a bounded disk cost, unlike
    the in-memory collect_list array or the quadratic blowup the cap
    prevents.) (The
    first cut of this cap counted sizes in a separate aggregation +
    broadcast anti-join; that cost a persist and an extra pass over
    the band table — ~1.2 s of the sf0.1 bench — for the same
    semantics.) ``max_bucket_size=None`` disables the cap
    (unit-scale paths that must enumerate every pair).
    """
    from pyspark.sql import Window

    banded = lsh_band_table(signatures, num_hashes, bands)
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("n_members", F.count(F.lit(1)).over(w))
            .filter(F.col("n_members") <= max_bucket_size)
            .drop("n_members")
        )
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def lsh_mega_clusters(
    signatures: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """The buckets :func:`lsh_candidate_pairs` diverts: one row per
    (band, key) whose membership exceeds ``max_bucket_size``, with
    ``n_members`` and the canonical ``keep_id`` (min member id). This
    is the linear-cost path for boilerplate mega-clusters — O(members)
    aggregation state, no member list materialized, no pair expansion.
    A duplicate group hot in every band yields ``bands`` rows (same
    membership, different key), which downstream cluster resolution
    collapses like any other overlapping buckets.
    """
    banded = lsh_band_table(signatures, num_hashes, bands)
    return (
        banded.groupBy("band", "key")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").alias("keep_id"),
        )
        .filter(F.col("n_members") > max_bucket_size)
    )


def jaccard_pairs(
    shingles: DataFrame | None,
    candidates: DataFrame,
    threshold: float = 0.5,
    prefilter: bool = True,
    docsets: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs over a
    (id, shingle) relation (build it with :func:`shingle_table` and
    persist it — every verifying caller also feeds signatures from it).

    |A∩B| via one doc→shingle-array side table joined to the pair
    table twice, then a per-row set intersection; |A∪B| =
    |A|+|B|−|A∩B| from the array sizes. Output: (id_a, id_b, jaccard)
    for pairs clearing the threshold (pairs with empty intersection
    never appear, matching the inner intersection join this replaced).

    With ``prefilter`` (the at-scale default), the shingle relation is
    first SEMI-FILTERED to candidate docs: candidates are a vanishing
    fraction of a large corpus, so the intersection join and counts
    aggregate run over candidate shingles only instead of shuffling
    the full corpus shingle table twice. The filter costs one extra
    materialization of the candidate set, which only amortizes on
    corpora whose shingle table dwarfs it — callers with SMALL inputs
    (unit tests, small scale factors) pass ``prefilter=False``, the
    same size-based call Spark itself makes via its broadcast
    threshold. Results are identical either way.
    """
    if prefilter:
        # candidates feeds BOTH the id-set and the pair join — persist
        # so the (expensive) upstream LSH pipeline runs once
        candidates = candidates.persist()
        cand_ids = (
            candidates.select(F.col("id_a").alias("id"))
            .unionByName(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
    # Array-set formulation (round-14 optimization, guide §2.3/§2.4):
    # one groupBy collapses each doc's distinct shingles to an array,
    # the pair table joins that side-table TWICE, and |A∩B| is a
    # per-row set intersection. The previous shape exploded
    # (pair, shingle) rows — Σ_pairs(|A|+|B|) rows through an
    # intersection equi-join, a re-aggregation by pair, and two count
    # joins. Same bytes move (each doc's shingles travel once per
    # candidate pair either way), but as ONE row per pair side instead
    # of |doc| rows, and the count joins vanish (sizes ride the
    # arrays). Set-intersection cardinality is order-independent, so
    # results are bit-identical under any partitioning. n_inter = 0
    # pairs are dropped exactly like the old inner intersection join.
    #
    # Callers whose pipeline already aggregated per-doc state can pass
    # ``docsets`` (id, ..., shs) directly — typically
    # :func:`minhash_doc_table`, which carries signatures and shingle
    # arrays through ONE exchange — and the grouping here is skipped.
    if docsets is None:
        sh = (
            shingles.join(cand_ids, "id", "left_semi")
            if prefilter
            else shingles
        )
        docsets = sh.groupBy("id").agg(
            F.collect_list("shingle").alias("shs")
        )
    else:
        docsets = docsets.select("id", "shs")
        if prefilter:
            docsets = docsets.join(cand_ids, "id", "left_semi")
    res = (
        candidates.join(
            docsets.select(F.col("id").alias("id_a"), F.col("shs").alias("sh_a")),
            "id_a",
        )
        .join(
            docsets.select(F.col("id").alias("id_b"), F.col("shs").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .filter(F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )
    return res.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def containment_pairs(
    shingles: DataFrame,
    candidates: DataFrame,
    prefilter: bool = True,
) -> DataFrame:
    """ASYMMETRIC verification of candidate pairs: alongside Jaccard,
    the two CONTAINMENT scores C(A→B) = |A∩B|/|A| and C(B→A) =
    |A∩B|/|B| (Broder). Jaccard misses subset relationships — a tweet
    quoted inside an article has tiny Jaccard but containment ≈ 1 on
    the short side — which is exactly the shape quote/inclusion dedup
    and decontamination care about. Same plan as
    :func:`jaccard_pairs` (one semi-prefilter, one intersection
    equi-join, two broadcastable count joins); only the output
    arithmetic differs. Output: (id_a, id_b, n_a, n_b, n_inter,
    jaccard, containment_a, containment_b)."""
    if prefilter:
        candidates = candidates.persist()
        cand_ids = (
            candidates.select(F.col("id_a").alias("id"))
            .unionByName(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sh = shingles.join(cand_ids, "id", "left_semi")
    else:
        sh = shingles
    # Same array-set formulation as jaccard_pairs (round-14): one
    # doc→shingle-array side table, two pair joins, per-row set
    # intersection — no (pair, shingle) row explosion, no re-agg, no
    # count joins. Bit-identical: set cardinalities are
    # order-independent and shingle relations are distinct per doc.
    docsets = sh.groupBy("id").agg(F.collect_list("shingle").alias("shs"))
    return (
        candidates.join(
            docsets.select(F.col("id").alias("id_a"), F.col("shs").alias("sh_a")),
            "id_a",
        )
        .join(
            docsets.select(F.col("id").alias("id_b"), F.col("shs").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .filter(F.col("n_inter") > 0)
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
            (F.col("n_inter").cast("double") / F.col("n_a").cast("double"))
            .alias("containment_a"),
            (F.col("n_inter").cast("double") / F.col("n_b").cast("double"))
            .alias("containment_b"),
        )
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document as a bit string.

    Each distinct word votes ±1 on every bit position, where bit b of a
    word is bit (3 − b mod 4) of hex nibble (b div 4) of md5(word); the
    signature bit is 1 iff the vote sum is positive. Everything is
    integer arithmetic on md5 nibbles → exact, engine-independent.

    ZERO-shuffle formulation: md5 each distinct word once into a
    per-row hash array, then each of the 64 bits is a per-row
    ``aggregate`` vote-sum over that array — pure map, no explode of
    docs × words × bits rows (that alternative shuffles 64·W rows per
    document). Documents with no words are dropped.
    """
    words = F.filter(
        F.array_distinct(F.split(normalized_text(text_col), " ")),
        lambda w: w != "",
    )
    # Round-15: the hash-array projection moved ABOVE the fan-out
    # exchange, inside an explode(array(...)) generator. Before, the
    # select sat below ensure_parallelism, so the per-word md5
    # transform ran on the single-split scan side (serial at bench
    # scale) — TWICE, because the size(hs) > 0 filter was pushed below
    # the exchange with the whole transform inlined as its condition.
    # The generator output is a materialization point: the 64 bit-vote
    # expressions and the filter reference the attribute, not the
    # expression, so the transform is evaluated exactly once per row,
    # in parallel. Rows out are identical (explode of a 1-element
    # array is 1:1; the filter semantics are unchanged).
    scattered = (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), text_col))
        .select(
            "id",
            # Round-15 (§1.2 per-task work): parse each word's md5 into
            # ceil(bits/32) 32-bit integers ONCE, instead of running a
            # substring + conv STRING PARSE per (word, bit) inside all
            # `bits` vote folds (64 convs/word -> 2). Bit b of the old
            # formulation — bit (3 - b%4) of hex nibble (b div 4 + 1) —
            # is exactly bit (31 - b%32) of word (b div 32) when the
            # nibbles are packed MSB-first, so the votes are unchanged
            # integer-for-integer.
            F.explode(
                F.array(
                    F.transform(
                        F.transform(words, lambda w: F.md5(w)),
                        lambda h: F.array(*[
                            F.conv(F.substring(h, 8 * k + 1, 8), 16, 10)
                            .cast("long")
                            for k in range((bits + 31) // 32)
                        ]),
                    )
                )
            ).alias("hs"),
        )
        .filter(F.size("hs") > 0)
    )

    # The whole signature is ONE SQL string (round-15, §1.2 per-plan
    # driver work): 64 Column-built aggregate folds cost ~1.4 s of py4j
    # round trips per plan on this sandbox; the parser builds the
    # identical tree in one call.
    def bit_sql(b: int) -> str:
        word, shift = b // 32 + 1, 31 - b % 32
        return (
            "CASE WHEN aggregate(hs, 0, (acc, h) -> acc + "
            f"(CAST(shiftright(element_at(h, {word}), {shift}) & 1 AS INT)"
            " * 2 - 1)) > 0 THEN '1' ELSE '0' END"
        )

    sig_sql = "concat(" + ", ".join(bit_sql(b) for b in range(bits)) + ")"
    return scattered.selectExpr("id", f"{sig_sql} AS simhash")


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    The self-join is an equi-join on ``block_col`` (an LSH bucket, a
    coarse-quantizer cell, or any partition key), so comparisons are
    O(Σ block²) not O(N²) — the blocking key is what makes this viable
    at 100 TB. Pairs with cosine ≥ threshold survive.
    """
    a = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    b = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", cosine_similarity("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("blk", "id_a", "id_b", "cosine")
    )
