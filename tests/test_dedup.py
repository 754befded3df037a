"""Bloom/cuckoo URL-seen filters and the content near-dup family."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from mizzounewscrawler_spark.operators.dedup import (
    CuckooFilter,
    add_hashes,
    bloom_flag,
    bloom_flag_sharded,
    build_bloom,
    exact_dedup,
    filter_unseen,
    incremental_neardup,
    minhash_band_postings,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    save_bloom_shards,
    simhash_neardup_pairs,
    touched_shards,
)


def test_bloom_no_false_negatives_and_sane_fpr(spark):
    seen = spark.range(0, 5000).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    bloom = build_bloom(seen, "url_hash", fpr=0.01, shard_bits=3)
    member = bloom.contains(
        np.array([r["url_hash"] for r in seen.collect()], dtype=np.int64)
    )
    assert member.all(), "Bloom false negative!"
    fresh = spark.range(100000, 110000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = bloom.contains(np.array([r["url_hash"] for r in fresh.collect()], dtype=np.int64))
    assert fp.mean() < 0.05, f"FPR too high: {fp.mean()}"


def test_filter_unseen_exact_semantics(spark):
    seen = spark.range(0, 1000).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    bloom = build_bloom(seen, "url_hash", fpr=0.01, shard_bits=2)
    cand = spark.range(500, 1500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"), F.col("id")
    )
    out = filter_unseen(cand, seen, bloom, "url_hash")
    ids = sorted(r["id"] for r in out.collect())
    assert ids == list(range(1000, 1500)), "bloom+anti must equal exact anti-join"
    out_nobloom = filter_unseen(cand, seen, None, "url_hash")
    assert sorted(r["id"] for r in out_nobloom.collect()) == ids


def test_filter_unseen_shuffled_fallback_equivalent(spark):
    """High-revisit scale path: forcing the shuffled anti-join (broadcast
    budget 0) must yield exactly the broadcast-probe result, with and
    without the Bloom pre-filter (VERDICT r1 #5)."""
    seen = spark.range(0, 2000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    bloom = build_bloom(seen, "url_hash", fpr=0.01, shard_bits=2)
    # 90% revisits: possible-seen slice dwarfs the new slice
    cand = spark.range(200, 2200).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"), F.col("id")
    )
    want = list(range(2000, 2200))
    for bl in (bloom, None):
        out = filter_unseen(cand, seen, bl, "url_hash", broadcast_max_rows=0)
        assert sorted(r["id"] for r in out.collect()) == want, bl


def test_sharded_probe_matches_broadcast_probe(spark, tmp_path):
    """VERDICT r3 wrong #1: the shard-aligned probe (each task loads only
    its shard file — no whole-filter broadcast) must flag exactly the same
    rows as the broadcast probe."""
    seen = spark.range(0, 3000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    bloom = build_bloom(seen, "url_hash", fpr=0.01, shard_bits=3)
    shard_dir = str(tmp_path / "bloom_shards")
    save_bloom_shards(bloom, shard_dir)
    cand = spark.range(1500, 4500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"), F.col("id")
    )
    bc = bloom_flag(cand, bloom, "url_hash")
    sh = bloom_flag_sharded(cand, shard_dir, "url_hash")
    want = sorted((r["id"], r["_maybe_seen"]) for r in bc.collect())
    got = sorted((r["id"], r["_maybe_seen"]) for r in sh.collect())
    assert got == want
    assert set(sh.columns) == set(bc.columns)  # no _shard leakage


def test_sharded_probe_sees_incremental_saves(spark, tmp_path):
    """O(touched) per-wave persistence: after add_hashes + a touched-shards
    save, the sharded probe must flag the new hashes as possible-seen."""
    seen = spark.range(0, 500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    bloom = build_bloom(seen, "url_hash", fpr=0.01, shard_bits=3)
    shard_dir = str(tmp_path / "bloom_shards")
    save_bloom_shards(bloom, shard_dir)
    new = spark.range(500, 600).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    new_hashes = np.array([r["url_hash"] for r in new.collect()], dtype=np.int64)
    bloom = add_hashes(bloom, new_hashes)
    save_bloom_shards(bloom, shard_dir, touched_shards(bloom, new_hashes))
    out = bloom_flag_sharded(new, shard_dir, "url_hash")
    assert all(r["_maybe_seen"] for r in out.collect()), "false negative"


def test_crawl_with_sharded_bloom_matches_broadcast(spark, web_spark):
    """Config-gated end-to-end parity: the crawl's URL-seen set must be
    identical whether the Bloom ships as one broadcast or as shard files."""
    import tempfile

    from mizzounewscrawler_spark.crawl import (
        CrawlConfig,
        open_tables,
        run_crawl,
    )

    pages, seeds, robots = web_spark
    results = {}
    for sharded in (False, True):
        out = tempfile.mkdtemp(prefix=f"crawl_sharded_{sharded}_")
        cfg = CrawlConfig(
            max_waves=3, bloom_capacity=10000, bloom_sharded=sharded
        )
        run_crawl(spark, pages, seeds, robots, out, cfg)
        t = open_tables(spark, out)
        results[sharded] = sorted(
            r["url_surt"] for r in t.url_seen.read().collect()
        )
    assert results[True] == results[False]
    assert len(results[True]) > 10


def test_cuckoo_insert_contains_delete():
    cf = CuckooFilter(capacity=2000)
    hs = [hash(f"u{i}") & ((1 << 63) - 1) for i in range(1500)]
    for h in hs:
        assert cf.insert(h)
    assert all(cf.contains(h) for h in hs)
    for h in hs[:500]:
        assert cf.delete(h)
    # deleted entries may still FP via shared fingerprints, but the vast
    # majority must be gone (deletability is the point vs Bloom)
    still = sum(cf.contains(h) for h in hs[:500])
    assert still < 25
    assert all(cf.contains(h) for h in hs[500:])


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["id", "text"]
    )
    out = exact_dedup(df, "text", "id").collect()
    assert sorted(r["id"] for r in out) == [1, 3]


def test_minhash_lsh_finds_neardups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different content about city council budget votes " * 10
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["id", "text"]
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(df, "id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_neardups(spark):
    base = "city council approves budget for new river bridge project " * 8
    near = base.replace("approves", "adopts", 2)
    far = "sports team wins season game coach celebrates victory tonight " * 8
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_neardup_pairs(df, "id", "text", max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_ngram_jaccard(spark):
    a = "one two three four five six seven eight nine ten"
    b = "one two three four five six seven eight nine eleven"
    c = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["id", "text"])
    rows = ngram_jaccard_pairs(df, "id", "text", k=3, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.5
    assert (1, 3) not in pairs


# --------------------------------------------------------------------------
# connected components / cluster resolution
# --------------------------------------------------------------------------


def _union_find_labels(n_nodes, edges):
    """Driver-side twin: min-id component label per node via union-find."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n_nodes)}


def _cc(spark, n_nodes, edges, **kw):
    from mizzounewscrawler_spark.operators.dedup import connected_components

    e = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "src long, dst long"
    )
    nodes = spark.range(n_nodes).select(F.col("id"))
    out = connected_components(e, nodes, **kw)
    return {r["id"]: r["cluster_id"] for r in out.collect()}


def test_connected_components_chain_converges_logarithmically(spark):
    # A 64-node path graph has diameter 63: plain neighbour-min propagation
    # needs 63 rounds, pointer doubling must close it within max_iter=12.
    edges = [(i, i + 1) for i in range(63)]
    got = _cc(spark, 64, edges, max_iter=12)
    assert got == {v: 0 for v in range(64)}


def test_connected_components_multi_cluster_and_singletons(spark):
    edges = [(1, 2), (2, 3), (5, 6), (9, 9)]
    got = _cc(spark, 10, edges)
    want = _union_find_labels(10, edges)
    assert got == want
    assert got[0] == 0 and got[4] == 4 and got[9] == 9  # singletons kept


def test_connected_components_random_graph_matches_union_find(spark):
    rng = np.random.default_rng(42)
    n = 200
    edges = [tuple(sorted(map(int, rng.integers(0, n, 2)))) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    assert _cc(spark, n, edges) == _union_find_labels(n, edges)


def test_resolve_neardup_clusters_keep_lowest_id(spark):
    from mizzounewscrawler_spark.operators.dedup import resolve_neardup_clusters

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 5), (1, 2)], "id_a long, id_b long")
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_kept"])
        for r in resolve_neardup_clusters(docs, pairs, "doc_id").collect()
    }
    assert out == {
        0: (0, True), 3: (0, False), 5: (0, False),
        1: (1, True), 2: (1, False), 4: (4, True),
    }


def test_incremental_neardup_probes_index_without_corpus_text(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different content about city council budget votes " * 10
    corpus = spark.createDataFrame([(1, base), (3, far)], ["id", "text"])
    batch = spark.createDataFrame(
        [(10, near), (11, "unrelated fresh words nobody wrote before " * 10)],
        ["id", "text"],
    )
    # the index is the ONLY thing the probe sees — no corpus text column
    index = minhash_band_postings(corpus, "id", "text")
    assert set(index.columns) == {"id", "band", "bucket"}
    pairs = {
        (r["new_id"], r["corpus_id"])
        for r in incremental_neardup(batch, index, "id", "text").collect()
    }
    assert (10, 1) in pairs
    assert all(new != 11 for new, _ in pairs)


def test_incremental_neardup_matches_batch_self_join_cross_pairs(spark):
    # parity: probing the corpus index with the batch == the cross slice of
    # minhash_lsh_pairs run over corpus ∪ batch
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta " * 6,
        "alpha beta gamma delta epsilon zeta eta iota " * 6,
        "one two three four five six seven eight " * 6,
        "one two three four five six seven nine " * 6,
        "totally disjoint vocabulary cluster here now then " * 6,
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    full = spark.createDataFrame(rows, ["id", "text"])
    corpus = full.where(F.col("id") % 2 == 0)
    batch = full.where(F.col("id") % 2 == 1)
    all_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(full, "id", "text").collect()
    }
    cross = {
        (a, b) if a % 2 == 1 else (b, a)
        for a, b in all_pairs
        if (a % 2) != (b % 2)
    }
    incr = {
        (r["new_id"], r["corpus_id"])
        for r in incremental_neardup(
            batch, minhash_band_postings(corpus, "id", "text"),
            "id", "text",
        ).collect()
    }
    assert incr == cross


def test_crawl_neardup_index_equals_full_self_join(spark, web_spark):
    """The per-wave incremental maintenance (intra-wave self-pairs +
    index probe vs prior waves) must reconstruct EXACTLY the pairs a
    one-shot minhash_lsh_pairs finds over the final articles table."""
    import tempfile

    from mizzounewscrawler_spark.crawl import (
        CrawlConfig,
        open_tables,
        run_crawl,
    )

    pages, seeds, robots = web_spark
    out = tempfile.mkdtemp(prefix="crawl_neardup_")
    # max_per_host high enough that the 4 waves exhaust the ~400-page web:
    # the generator's exact-dup articles (k%13==12, distinct URLs) are then
    # guaranteed extracted together with their body-source, so the corpus
    # provably contains near-dup pairs for the invariant to bite on.
    run_crawl(
        spark, pages, seeds, robots, out,
        CrawlConfig(max_waves=4, max_per_host=60, neardup_minhash=True),
    )
    t = open_tables(spark, out)
    incremental = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in t.neardup_pairs.read().collect()
    }
    docs = (
        t.articles.read()
        .where(
            (F.col("status") == "extracted")
            & F.col("text").isNotNull()
            & (F.length("text") > 0)
        )
        .select(F.col("url_hash").alias("id"), "text")
    )
    full = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in minhash_lsh_pairs(docs, "id", "text").collect()
    }
    assert incremental == full
    assert len(full) > 0, "fixture web should contain near-dup pages"
    # the postings index covers every extracted article exactly once
    n_docs = docs.count()
    idx = t.neardup_postings.read()
    assert idx.select("id").distinct().count() == n_docs
    assert idx.count() == n_docs * 8  # 8 bands per doc at the defaults


def test_cuckoo_batch_api_matches_scalar():
    """contains_batch / insert_many / delete_many are bit-identical to the
    scalar methods (the crawl probe path rides contains_batch)."""
    import numpy as np

    a, b = CuckooFilter(capacity=4000), CuckooFilter(capacity=4000)
    rng = np.random.default_rng(7)
    hs = rng.integers(-(2**63), 2**63 - 1, size=2500, dtype=np.int64)
    for h in hs:
        a.insert(int(h)) if not a.contains(int(h)) else None
    b.insert_many(hs)
    assert np.array_equal(a.table, b.table)
    probe = rng.integers(-(2**63), 2**63 - 1, size=4000, dtype=np.int64)
    probe[:2000] = hs[:2000]
    got = b.contains_batch(probe)
    want = np.array([a.contains(int(h)) for h in probe])
    assert np.array_equal(got, want)
    assert got[:2000].all()  # no false negatives
    b.delete_many(hs[:100])
    for h in hs[:100]:
        a.delete(int(h))
    assert np.array_equal(a.table, b.table)


def test_crawl_with_cuckoo_filter_matches_bloom(spark, web_spark):
    """url_seen_filter='cuckoo' must produce the identical crawl result —
    the exact backstop makes the pre-filter invisible to correctness."""
    import tempfile

    from mizzounewscrawler_spark.crawl import (
        CrawlConfig,
        open_tables,
        run_crawl,
    )

    pages, seeds, robots = web_spark
    results = {}
    for filt in ("bloom", "cuckoo"):
        out = tempfile.mkdtemp(prefix=f"crawl_{filt}_")
        cfg = CrawlConfig(
            max_waves=3, bloom_capacity=10000, url_seen_filter=filt
        )
        run_crawl(spark, pages, seeds, robots, out, cfg)
        t = open_tables(spark, out)
        results[filt] = sorted(
            r["url_surt"] for r in t.url_seen.read().collect()
        )
    assert results["cuckoo"] == results["bloom"]
    assert len(results["cuckoo"]) > 10


def test_crawl_cuckoo_overflow_rebuilds_instead_of_crashing(spark, web_spark):
    """A cuckoo sized far below the URL count must NOT kill the crawl:
    insert_many raises CuckooFullError and run_crawl rebuilds at doubled
    capacity from url_seen — result identical to the bloom variant."""
    import tempfile

    from mizzounewscrawler_spark.crawl import (
        CrawlConfig,
        open_tables,
        run_crawl,
    )

    pages, seeds, robots = web_spark
    results = {}
    for filt, cap in (("bloom", 10000), ("cuckoo", 8)):
        out = tempfile.mkdtemp(prefix=f"crawl_tiny_{filt}_")
        cfg = CrawlConfig(
            max_waves=3, bloom_capacity=cap, url_seen_filter=filt
        )
        run_crawl(spark, pages, seeds, robots, out, cfg)
        t = open_tables(spark, out)
        results[filt] = sorted(
            r["url_surt"] for r in t.url_seen.read().collect()
        )
    assert results["cuckoo"] == results["bloom"]
    assert len(results["cuckoo"]) > 8  # the tiny initial capacity overflowed


def test_cuckoo_insert_many_raises_typed_full_error():
    from mizzounewscrawler_spark.operators.dedup import (
        CuckooFilter,
        CuckooFullError,
    )

    cf = CuckooFilter(4)
    rng = np.random.default_rng(7)
    with pytest.raises(CuckooFullError):
        cf.insert_many(rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64))


def test_short_docs_emit_no_lsh_postings_and_never_pair(spark):
    """Docs with fewer than shingle_k tokens have an all-null MinHash
    signature — they must emit NO postings (banding nulls used to collapse
    every tiny doc into one shared bucket, pairing 'hello world' with
    'stock prices' and building an O(m²) mega-bucket)."""
    from mizzounewscrawler_spark.operators.dedup import (
        minhash_band_postings,
        minhash_lsh_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "on a warm summer evening while birds sing in the old oak tree"
    )
    rows = [
        (1, "hello world"),
        (2, "stock prices"),
        (3, "go now"),
        (4, base),
        (5, base + " today"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")

    postings = minhash_band_postings(df, "id", "text")
    assert postings.where(F.col("id").isin(1, 2, 3)).count() == 0
    assert postings.where(F.col("id").isin(4, 5)).count() > 0

    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "id", "text").collect()
    }
    assert (4, 5) in pairs
    assert all(a not in (1, 2, 3) and b not in (1, 2, 3) for a, b in pairs)


def test_delete_from_cuckoo_shards_is_on_disk_o_batch_retraction(tmp_path):
    """The CLI requeue path: fingerprints are removed from the PERSISTED
    shard files directly (touched shards only), no corpus-sized filter is
    ever rebuilt — after the delete, a fresh probe of the retracted hashes
    reports unseen while everything else stays seen."""
    from mizzounewscrawler_spark.operators.dedup import (
        PartitionedCuckoo,
        _cuckoo_probe_table,
        delete_from_cuckoo_shards,
        save_cuckoo_shards,
    )

    rng = np.random.default_rng(11)
    hs = rng.integers(-(2**62), 2**62, size=2000, dtype=np.int64)
    pc = PartitionedCuckoo(5000, shard_bits=3)
    pc.insert_many(hs)
    d = str(tmp_path / "cuckoo_shards")
    save_cuckoo_shards(pc, d)

    victims, keep = hs[:50], hs[50:]
    touched = delete_from_cuckoo_shards(d, victims)
    assert touched  # at least one shard was rewritten

    # reload from disk and probe through the raw-table kernel
    import json as _json
    import os as _os

    with open(_os.path.join(d, "params.json")) as f:
        nbuckets = _json.load(f)["nbuckets"]

    def probe(arr):
        out = np.zeros(len(arr), dtype=bool)
        sids = (arr.view(np.uint64) >> np.uint64(61)).astype(int)
        for sid in np.unique(sids):
            with open(_os.path.join(d, f"shard_{sid:05d}.bin"), "rb") as f:
                table = np.frombuffer(f.read(), dtype=np.uint16).reshape(
                    nbuckets, 4
                )
            m = sids == sid
            out[m] = _cuckoo_probe_table(table, arr[m])
        return out

    # a victim can rarely still probe "seen" when a KEEPER shares its
    # (fingerprint, bucket) — the same collision class as a Bloom FP, and
    # exactly why the exact url_seen backstop exists; the overwhelming
    # majority must be forgotten, and keepers must remain seen
    assert probe(victims).mean() < 0.05
    assert probe(keep).mean() > 0.99


def test_requeue_seen_unsees_urls_end_to_end(spark, web_spark):
    """Frontier retraction: after requeue_seen, the retracted URLs pass
    filter_unseen again (both the cuckoo and the exact backstop forgot
    them), while everything else stays seen."""
    import tempfile

    import numpy as np

    from mizzounewscrawler_spark.crawl import (
        CrawlConfig,
        open_tables,
        run_crawl,
    )
    from mizzounewscrawler_spark.operators.dedup import (
        build_cuckoo,
        requeue_seen,
    )

    pages, seeds, robots = web_spark
    out = tempfile.mkdtemp(prefix="crawl_requeue_")
    run_crawl(
        spark, pages, seeds, robots, out,
        CrawlConfig(max_waves=2, bloom_capacity=10000,
                    url_seen_filter="cuckoo"),
    )
    t = open_tables(spark, out)
    seen = t.url_seen.read().cache()
    n0 = seen.count()
    cf = build_cuckoo(seen, "url_hash", 10000)
    victims = seen.limit(5).cache()
    n_requeued = requeue_seen(t.url_seen, cf, victims)
    assert n_requeued == 5

    seen_after = t.url_seen.read()
    assert seen_after.count() == n0 - 5

    # the retracted hashes are new again through the FULL path
    survivors = filter_unseen(victims, seen_after, cf)
    assert survivors.count() == 5
    # and an unretracted sample is still blocked
    others = seen.join(victims.select("url_hash"), "url_hash",
                       "left_anti").limit(5)
    assert filter_unseen(others, seen_after, cf).count() == 0


def test_partitioned_cuckoo_matches_flat():
    """Shard routing must not change membership semantics: a
    PartitionedCuckoo answers exactly like per-shard flat filters, with no
    false negatives and working deletes per shard."""
    import numpy as np

    from mizzounewscrawler_spark.operators.dedup import PartitionedCuckoo

    rng = np.random.default_rng(11)
    hs = rng.integers(-(2**63), 2**63 - 1, size=3000, dtype=np.int64)
    pc = PartitionedCuckoo(8000, shard_bits=3)
    touched = pc.insert_many(hs)
    assert set(touched) <= set(range(8))
    assert pc.contains_batch(hs).all()  # no false negatives
    pc.delete_many(hs[:300])
    still = pc.contains_batch(hs[:300]).sum()
    assert still < 20
    assert pc.contains_batch(hs[300:]).all()


def test_crawl_with_sharded_cuckoo_matches_bloom(spark, web_spark):
    """End-to-end: url_seen_filter='cuckoo' + bloom_sharded=True (the
    PartitionedCuckoo shard-file probe) produces the identical crawl."""
    import tempfile

    from mizzounewscrawler_spark.crawl import (
        CrawlConfig,
        open_tables,
        run_crawl,
    )

    pages, seeds, robots = web_spark
    results = {}
    for name, cfg in {
        "bloom": CrawlConfig(max_waves=3, bloom_capacity=10000),
        "cuckoo_sharded": CrawlConfig(
            max_waves=3, bloom_capacity=10000,
            url_seen_filter="cuckoo", bloom_sharded=True,
        ),
    }.items():
        out = tempfile.mkdtemp(prefix=f"crawl_{name}_")
        run_crawl(spark, pages, seeds, robots, out, cfg)
        t = open_tables(spark, out)
        results[name] = sorted(
            r["url_surt"] for r in t.url_seen.read().collect()
        )
    assert results["cuckoo_sharded"] == results["bloom"]
    assert len(results["cuckoo_sharded"]) > 10


def test_build_cuckoo_distributed_parity_and_per_shard_doubling(spark):
    """The sharded bulk build runs shard-local in executors (no full-corpus
    driver collect).  Membership must match the driver-side flat build on
    the same seen set — zero false negatives, FP rate in the same regime —
    and an UNDERSIZED capacity must double per shard inside the task
    rather than failing or re-collecting the corpus."""
    import numpy as np
    import pandas as pd

    from mizzounewscrawler_spark.operators.dedup import (
        PartitionedCuckoo,
        build_cuckoo,
    )

    rng = np.random.default_rng(7)
    hs = rng.integers(-(2**63), 2**63 - 1, size=5000, dtype=np.int64)
    seen = spark.createDataFrame(pd.DataFrame({"url_hash": hs}))

    pc = build_cuckoo(seen, "url_hash", 16000, shard_bits=3)
    assert isinstance(pc, PartitionedCuckoo)
    flat = build_cuckoo(seen, "url_hash", 16000, shard_bits=0)

    # no false negatives on either path
    assert pc.contains_batch(hs).all()
    assert flat.contains_batch(hs).all()
    # same FP regime on disjoint probes (16-bit fingerprints => tiny)
    probes = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
    fresh = probes[~np.isin(probes, hs)]
    assert pc.contains_batch(fresh).sum() <= 40
    assert flat.contains_batch(fresh).sum() <= 40

    # undersized capacity: per-shard doubling inside the executor task
    small = build_cuckoo(seen, "url_hash", 64, shard_bits=3)
    assert small.contains_batch(hs).all()
    assert any(
        cf.nbuckets * cf.BUCKET >= len(hs) // 8 for cf in small.shards.values()
    )

    # deletes still work per shard on the distributed build
    small.delete_many(hs[:100])
    assert small.contains_batch(hs[100:]).all()


def test_crawl_disk_bloom_writer_matches_in_ram(spark, web_spark):
    """Config-gated equality across a multi-wave crawl: with
    bloom_disk_writer=True the driver never holds the filter (executor-side
    bulk build + per-shard read-modify-write increments), yet the crawl's
    URL-seen set AND the persisted shard files are bit-identical to the
    in-RAM writer's (Bloom OR is order-independent, geometry is pinned)."""
    import os
    import tempfile

    from mizzounewscrawler_spark.crawl import (
        CrawlConfig,
        open_tables,
        run_crawl,
    )
    from mizzounewscrawler_spark.operators.dedup import BLOOM_SHARD_SUBDIR

    pages, seeds, robots = web_spark
    results, shard_bytes = {}, {}
    for disk in (False, True):
        out = tempfile.mkdtemp(prefix=f"crawl_diskbloom_{disk}_")
        cfg = CrawlConfig(
            max_waves=3, bloom_capacity=10000, bloom_sharded=True,
            bloom_disk_writer=disk,
        )
        run_crawl(spark, pages, seeds, robots, out, cfg)
        t = open_tables(spark, out)
        results[disk] = sorted(
            r["url_surt"] for r in t.url_seen.read().collect()
        )
        sdir = os.path.join(out, BLOOM_SHARD_SUBDIR)
        shard_bytes[disk] = {
            name: open(os.path.join(sdir, name), "rb").read()
            for name in sorted(os.listdir(sdir))
            if name.startswith("shard_")
        }
    assert results[True] == results[False]
    assert len(results[True]) > 10
    assert set(shard_bytes[True]) == set(shard_bytes[False])
    for name in shard_bytes[True]:
        assert shard_bytes[True][name] == shard_bytes[False][name], name


def test_disk_bloom_writer_unit_parity():
    """DiskBloomWriter.add + merge_from_dir produce the same bitmaps as
    the in-RAM add_hashes/merge_blooms path for the same geometry."""
    import os
    import tempfile

    import numpy as np

    from mizzounewscrawler_spark.operators.dedup import (
        DiskBloomWriter,
        PartitionedBloom,
        _bloom_params,
        add_hashes,
        save_bloom_shards,
    )

    rng = np.random.default_rng(3)
    first = rng.integers(-(2**63), 2**63 - 1, size=4000, dtype=np.int64)
    second = rng.integers(-(2**63), 2**63 - 1, size=1500, dtype=np.int64)
    m, k = _bloom_params(1000, 0.01)

    ram = PartitionedBloom(shard_bits=3, m=m, k=k, shards={})
    ram = add_hashes(ram, first)
    ram = add_hashes(ram, second)

    d = tempfile.mkdtemp(prefix="diskbloom_unit_")
    empty = PartitionedBloom(shard_bits=3, m=m, k=k, shards={})
    save_bloom_shards(empty, d)  # params.json only (no shards yet)
    w = DiskBloomWriter(d)
    touched = w.add(first)
    assert touched  # routed across shards
    w.add(second)

    for sid, bm in ram.shards.items():
        path = os.path.join(d, f"shard_{sid:05d}.bin")
        assert open(path, "rb").read() == bm, sid


def test_band_chain_pairs_same_clusters_linear_rows(spark):
    """Hot-bucket guard (BENCH/llm_ops.py finding): the chain pair form
    must yield EXACTLY the clusters of the clique form while emitting
    O(m) rows per bucket instead of O(m^2)."""
    from mizzounewscrawler_spark.operators.dedup import (
        band_self_pairs,
        minhash_band_postings,
        minhash_lsh_chain_pairs,
        minhash_lsh_pairs,
        resolve_neardup_clusters,
    )

    # 40 docs sharing one boilerplate passage (a hot bucket), plus
    # 20 unrelated docs and a couple of genuine near-dup pairs
    passage = " ".join(f"tpl{i}" for i in range(30))
    rows = []
    for i in range(40):
        rows.append((i, f"doc {i} unique words w{i}a w{i}b " + passage))
    for i in range(40, 60):
        rows.append((i, " ".join(f"solo{i}w{j}" for j in range(30))))
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta " * 4))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta theta " * 4))
    docs = spark.createDataFrame(rows, "id long, text string")

    clique = minhash_lsh_pairs(docs, "id", "text").cache()
    chain = minhash_lsh_chain_pairs(docs, "id", "text").cache()
    n_clique, n_chain = clique.count(), chain.count()
    # the 40-doc hot bucket alone would emit C(40,2)*bands clique pairs
    assert n_chain < n_clique
    assert n_chain <= 8 * 62  # O(rows x bands) bound

    def clusters(pairs):
        v = resolve_neardup_clusters(docs.select("id"), pairs, "id")
        return sorted(
            (r["id"], r["cluster_id"], r["is_kept"]) for r in v.collect()
        )

    assert clusters(clique) == clusters(chain)

    # direct bucket check: one 5-doc bucket -> 4 chain rows, 10 clique
    postings = spark.createDataFrame(
        [(0, 7, i) for i in range(5)], "band int, bucket long, id long"
    )
    from mizzounewscrawler_spark.operators.dedup import band_chain_pairs

    assert band_chain_pairs(postings).count() == 4
    assert band_self_pairs(postings).count() == 10


def test_disk_bloom_bulk_increment_merge_from_dir(spark):
    """The disk writer's bulk-increment path (discovered_new above the
    driver-increment cap): a scratch shard dir built distributedly is
    OR-merged file-by-file and must equal the in-RAM build over the union
    set, bit for bit."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from mizzounewscrawler_spark.operators.dedup import (
        DiskBloomWriter,
        _bloom_params,
        build_bloom,
        build_bloom_to_dir,
    )

    rng = np.random.default_rng(9)
    first = rng.integers(-(2**63), 2**63 - 1, size=3000, dtype=np.int64)
    second = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    params = _bloom_params(1000, 0.01)

    base_dir = tempfile.mkdtemp(prefix="dbw_base_")
    inc_dir = tempfile.mkdtemp(prefix="dbw_inc_")
    df1 = spark.createDataFrame(pd.DataFrame({"url_hash": first}))
    df2 = spark.createDataFrame(pd.DataFrame({"url_hash": second}))
    build_bloom_to_dir(df1, base_dir, params=params, shard_bits=3)
    build_bloom_to_dir(df2, inc_dir, params=params, shard_bits=3)

    w = DiskBloomWriter(base_dir)
    touched = w.merge_from_dir(inc_dir)
    assert touched  # the increment hit real shards

    union = df1.unionByName(df2)
    ram = build_bloom(union, "url_hash", shard_bits=3, params=params)
    for sid, bm in ram.shards.items():
        path = os.path.join(base_dir, f"shard_{sid:05d}.bin")
        assert open(path, "rb").read() == bm, sid

    # param mismatch is refused
    import pytest as _pytest

    bad_dir = tempfile.mkdtemp(prefix="dbw_bad_")
    build_bloom_to_dir(df2, bad_dir, params=(params[0] * 2, params[1]),
                       shard_bits=3)
    with _pytest.raises(AssertionError):
        w.merge_from_dir(bad_dir)


def test_crawl_disk_bloom_bulk_increment_branch(spark, web_spark):
    """Force the disk writer's BULK branch in the wave loop
    (bloom_driver_increment_max=0: every wave's increment builds a
    scratch shard dir and merges it) — crawl result identical to the
    default driver-increment disk path."""
    import tempfile

    from mizzounewscrawler_spark.crawl import (
        CrawlConfig,
        open_tables,
        run_crawl,
    )

    pages, seeds, robots = web_spark
    results = {}
    for cap in (2_000_000, 0):
        out = tempfile.mkdtemp(prefix=f"crawl_diskbulk_{cap}_")
        cfg = CrawlConfig(
            max_waves=3, bloom_capacity=10000, bloom_sharded=True,
            bloom_disk_writer=True, bloom_driver_increment_max=cap,
        )
        run_crawl(spark, pages, seeds, robots, out, cfg)
        t = open_tables(spark, out)
        results[cap] = sorted(
            r["url_surt"] for r in t.url_seen.read().collect()
        )
    assert results[0] == results[2_000_000]
    assert len(results[0]) > 10


def test_disk_bloom_writer_requires_sharded_bloom(spark, web_spark):
    """bloom_disk_writer is refused, not silently ignored, without
    bloom_sharded or with the cuckoo filter (explicit-config contract)."""
    import os
    import tempfile

    import pytest as _pytest

    from mizzounewscrawler_spark.crawl import CrawlConfig, run_crawl

    pages, seeds, robots = web_spark
    for cfg in (
        CrawlConfig(max_waves=1, bloom_disk_writer=True),
        CrawlConfig(
            max_waves=1, bloom_disk_writer=True, bloom_sharded=True,
            url_seen_filter="cuckoo",
        ),
    ):
        out = tempfile.mkdtemp(prefix="crawl_diskbloom_refused_")
        with _pytest.raises(ValueError, match="bloom_disk_writer"):
            run_crawl(spark, pages, seeds, robots, out, cfg)
        assert not os.listdir(out)  # refused before anything was written


def test_build_bloom_to_dir_clears_stale_shards(spark, tmp_path):
    """A rebuild over a dirty directory — shard files the new input does
    not touch, and a crash-orphaned increment scratch dir — is
    bit-identical to the in-RAM writer."""
    import numpy as np
    import pandas as pd

    from mizzounewscrawler_spark.operators.dedup import (
        _bloom_params,
        build_bloom,
        build_bloom_to_dir,
    )

    rng = np.random.default_rng(11)
    h = rng.integers(-(2**63), 2**63 - 1, size=4000, dtype=np.int64)
    # keep shards 0 and 1 of 8 only (top 3 bits), so shards 2..7 are empty
    h = h[(h.view(np.uint64) >> np.uint64(61)) < 2]
    params = _bloom_params(1000, 0.01)
    shard_dir = tmp_path / "bloom_shards"
    shard_dir.mkdir()
    for sid in range(8):
        (shard_dir / f"shard_{sid:05d}.bin").write_bytes(b"\xff" * 64)
    scratch = tmp_path / "bloom_shards.increment"
    scratch.mkdir()
    (scratch / "shard_00003.bin").write_bytes(b"\xff" * 64)

    df = spark.createDataFrame(pd.DataFrame({"url_hash": h}))
    build_bloom_to_dir(df, str(shard_dir), params=params, shard_bits=3)
    ram = build_bloom(df, "url_hash", shard_bits=3, params=params)
    on_disk = {
        int(p.name[len("shard_"):-len(".bin")]): p.read_bytes()
        for p in shard_dir.glob("shard_*.bin")
    }
    assert set(ram.shards) == {0, 1}
    assert on_disk == {sid: bytes(bm) for sid, bm in ram.shards.items()}
    assert not scratch.exists()
