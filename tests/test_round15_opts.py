"""Round-15 optimization pins.

Each test pins an equivalence the round-15 rewrites rely on:

- util.plan_scan_splits (the split count ensure_parallelism derives
  from the plan's file-scan leaves, with no RDD conversion) must agree
  with Spark's actual scan partitioning for every fixture table, for
  every table of a staged K-copy tier dir and for frames derived from
  a scan;
- ensure_parallelism must fan out a single-split scan and leave an
  already-parallel one alone;
- text_fingerprint's min-md5 FOLD must equal the round-14
  array_min(transform(char_shingles)) formulation on every edge case;
- mm_blob_labeling's per-image union-find must reproduce the
  4-connectivity reachability the oracle defines (brute force check);
- simhash's packed-word bit votes must equal the per-nibble
  formulation they replaced.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.text import (
    bind_once,
    char_shingles,
    normalized_text,
)
from quick_and_easy_vectordb_spark.operators.util import (
    ensure_parallelism,
    plan_scan_splits,
)
from quick_and_easy_vectordb_spark.sources.catalog import (
    TABLES,
    load_table,
)

SF_DIR = "/root/testdata/sf0.01"


def test_plan_scan_splits_matches_actual(spark):
    import os
    import shutil

    from bench import stage_tier_dir

    for name in TABLES:
        if not os.path.isfile(os.path.join(SF_DIR, f"{name}.parquet")):
            continue
        df = load_table(spark, SF_DIR, name)
        assert plan_scan_splits(df) == df.rdd.getNumPartitions(), name
    # A tier dir's tables are directories of several part files: the
    # count follows Spark's packing over the files, not the single-file
    # formula applied to their total size.
    for k in (2, 10):
        tier_dir = stage_tier_dir(spark, SF_DIR, k)
        try:
            for name in TABLES:
                df = load_table(spark, tier_dir, name)
                assert plan_scan_splits(df) == df.rdd.getNumPartitions(), (
                    k, name
                )
        finally:
            shutil.rmtree(tier_dir, ignore_errors=True)
    li = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part")
    derived = {
        "filter": li.filter(F.col("l_quantity") > 10),
        "select": li.select("l_orderkey", "l_partkey"),
        "broadcast join": li.join(
            F.broadcast(part), li.l_partkey == part.p_partkey
        ),
    }
    for shape, df in derived.items():
        assert plan_scan_splits(df) == df.rdd.getNumPartitions(), shape


def test_ensure_parallelism_follows_plan_splits(spark):
    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    assert plan_scan_splits(docs) == 1
    assert ensure_parallelism(docs).rdd.getNumPartitions() == target
    # an already-parallel scan is returned untouched; shrinking the
    # split size widens lineitem, so the count must follow the conf
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "64k")
        li = load_table(spark, SF_DIR, "lineitem")
        assert plan_scan_splits(li) == li.rdd.getNumPartitions() >= target
        assert ensure_parallelism(li) is li
    finally:
        spark.conf.set(key, old)


def test_fingerprint_fold_equals_array_min_formulation(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "short"),  # 0 < len(norm) < 8 -> md5(norm)
        (3, ""),  # empty -> NULL (dropped by the query's filter)
        (4, None),  # NULL text -> NULL
        (5, "aaaaaaaaaaaaaaaa"),  # heavy duplicate grams
        (6, "  Mixed   CASE\tand \n whitespace normalization  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = F.array_min(
        F.transform(char_shingles("text", 8), lambda g: F.md5(g))
    )
    new = bind_once(
        normalized_text("text"),
        lambda nm: F.when(
            F.length(nm) >= 8,
            F.aggregate(
                F.sequence(F.lit(1), F.length(nm) - 7),
                F.lit("g"),
                lambda acc, i: F.least(
                    acc, F.md5(F.substring(nm, i, F.lit(8)))
                ),
            ),
        ).when(F.length(nm) > 0, F.md5(nm)),
    )
    got = df.select("doc_id", old.alias("a"), new.alias("b")).collect()
    for r in got:
        assert r.a == r.b, f"doc {r.doc_id}: {r.a} != {r.b}"


def test_blob_labeling_matches_bruteforce(spark):
    from quick_and_easy_vectordb_spark.queries import QUERIES
    import numpy as np

    out = {
        r.doc_id: r
        for r in QUERIES["mm_blob_labeling"].fn(spark, SF_DIR).collect()
    }

    def brute(doc_id: int):
        w, h = 8 + doc_id % 8, 8 + doc_id % 5
        raster = ((doc_id * 31 + np.arange(w * h)) % 256).reshape(h, w)
        mask = raster >= 128
        seen = np.zeros_like(mask)
        sizes = []
        for y in range(h):
            for x in range(w):
                if mask[y, x] and not seen[y, x]:
                    stack, sz = [(y, x)], 0
                    seen[y, x] = True
                    while stack:
                        cy, cx = stack.pop()
                        sz += 1
                        for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                            ny, nx = cy + dy, cx + dx
                            if (
                                0 <= ny < h and 0 <= nx < w
                                and mask[ny, nx] and not seen[ny, nx]
                            ):
                                seen[ny, nx] = True
                                stack.append((ny, nx))
                    sizes.append(sz)
        return sizes

    checked = 0
    for doc_id in list(out)[:25]:
        sizes = brute(doc_id)
        r = out[doc_id]
        assert r.n_blobs == len(sizes)
        assert r.largest_blob == max(sizes)
        assert r.n_mask_px == sum(sizes)
        checked += 1
    assert checked > 0
    # docs with an empty mask must be absent
    for doc_id in range(0, 500, 5):
        if doc_id not in out:
            assert sum(brute(doc_id)) == 0


def test_simhash_packed_votes_equal_nibble_votes(spark):
    from quick_and_easy_vectordb_spark.operators.dedup import (
        simhash_signatures,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),  # identical -> same signature
            (3, "completely different words here"),
            (4, ""),  # empty -> dropped
        ],
        "doc_id long, text string",
    )
    got = {r.id: r.simhash for r in simhash_signatures(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == got[2]
    assert len(got[1]) == 64 and set(got[1]) <= {"0", "1"}

    # reference: the pre-round-15 per-nibble formulation
    words = F.filter(
        F.array_distinct(F.split(normalized_text("text"), " ")),
        lambda w: w != "",
    )
    hs = df.select(
        F.col("doc_id").alias("id"),
        F.transform(words, lambda w: F.md5(w)).alias("hs"),
    ).filter(F.size("hs") > 0)

    def bit_char(b):
        nib_pos, shift = b // 4 + 1, 3 - b % 4
        vote = F.aggregate(
            F.col("hs"),
            F.lit(0),
            lambda acc, h: acc
            + (
                F.shiftright(
                    F.conv(F.substring(h, nib_pos, 1), 16, 10).cast("int"),
                    shift,
                ).bitwiseAND(F.lit(1))
                * 2
                - 1
            ),
        )
        return F.when(vote > 0, "1").otherwise("0")

    ref = {
        r.id: r.sig
        for r in hs.select(
            "id", F.concat(*[bit_char(b) for b in range(64)]).alias("sig")
        ).collect()
    }
    assert got == ref


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
