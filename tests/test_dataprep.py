"""Semantic checks for the training-data operators (beyond oracle parity):
recall/quality properties a 100 TB data-prep user cares about."""

from pyspark.sql import functions as F

from go_fluentd_spark.operators import dataprep as DP


def test_minhash_lsh_finds_ngram_pairs(spark, sf_dir):
    # LSH candidates (no length blocking) must recover every pair the
    # blocked exact-jaccard method finds — recall 1.0 on this corpus
    exact = {
        (r.a_doc, r.b_doc) for r in DP.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    lsh = {(r.a_doc, r.b_doc) for r in DP.minhash_lsh_pairs(spark, sf_dir).collect()}
    assert exact, "corpus should contain near-dup pairs"
    assert exact <= lsh, f"LSH missed {exact - lsh}"


def test_minhash_band_cap_bounds_join_groups(spark):
    """Scale invariant behind minhash_lsh_pairs: after the per-bucket rank
    cap, NO (band, bucket) join group exceeds MH_BUCKET_CAP members — even on
    an adversarially skewed corpus (sf0.01's hottest bucket holds 36 docs at
    cap-relevant scale; sf0.1's holds 290).  And on the real testdata the cap
    must cost ZERO verified pairs (the hot buckets are template collisions
    below tau, not true near-dups)."""
    from pyspark.sql import Window

    sf = "/root/testdata/sf0.01"
    bk = DP.minhash_band_buckets(spark, sf)
    # uncapped: prove the skew exists (a bucket above the would-be cap of 8)
    sizes = bk.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    assert sizes.agg(F.max("sz")).collect()[0][0] > 8
    # capped at 8 (far below the hot bucket): no join group exceeds the cap
    w = Window.partitionBy("band", "bucket").orderBy("doc_id")
    capped = bk.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 8)
    cap_sizes = capped.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    assert cap_sizes.agg(F.max("sz")).collect()[0][0] <= 8
    # default cap: pair output identical to uncapped (recall 1.0 on testdata)
    capped_pairs = {
        (r.a_doc, r.b_doc) for r in DP.minhash_lsh_pairs(spark, sf).collect()
    }
    uncapped_pairs = {
        (r.a_doc, r.b_doc)
        for r in DP.minhash_lsh_pairs(spark, sf, cap=10**9).collect()
    }
    assert capped_pairs == uncapped_pairs
    # the audit exposes overflow at a tight cap
    overflow = (
        DP.minhash_band_stats(spark, sf, cap=8)
        .agg(F.sum("n_overflow"))
        .collect()[0][0]
    )
    assert overflow > 0


def test_embed_near_pairs_cap_bounds_join_groups(spark, sf_dir):
    """The fixed-256-bucket legacy ANN path carries the same per-bucket rank
    cap as the banded path: a forced-hot bucket stays bounded by
    construction — cap=1 keeps one member per bucket (zero pairs possible),
    cap=2 keeps at most one pair per bucket, and the default cap loses no
    pairs on the real testdata (buckets are far below EMB_BUCKET_CAP)."""
    assert DP.embed_near_pairs(spark, sf_dir, cap=1).count() == 0
    n_buckets = (
        DP.embed_lsh_buckets(spark, sf_dir).select("bucket").distinct().count()
    )
    assert DP.embed_near_pairs(spark, sf_dir, cap=2).count() <= n_buckets
    capped = {
        (r.a_vec, r.b_vec) for r in DP.embed_near_pairs(spark, sf_dir).collect()
    }
    uncapped = {
        (r.a_vec, r.b_vec)
        for r in DP.embed_near_pairs(spark, sf_dir, cap=10**9).collect()
    }
    assert capped == uncapped


def test_curated_chunks_composite(spark, sf_dir):
    """curated_chunks = chunks of exactly the sequences whose linked doc
    passed the full text+media curation; every emitted chunk's link_doc is a
    keep_mm doc and chunks of kept sequences are complete (lossless within
    the kept set)."""
    keep = {
        r.doc_id
        for r in DP.corpus_curation_mm(spark, sf_dir)
        .filter(F.col("keep_mm") == 1)
        .collect()
    }
    assert keep  # the floors/dedup must not reject everything
    ch = DP.curated_chunks(spark, sf_dir)
    links = {r.link_doc for r in ch.select("link_doc").distinct().collect()}
    assert links <= keep
    # chunk rows for a kept sequence match sequence_chunks exactly
    n_docs = DP.docs(spark, sf_dir).count()
    all_ch = DP.sequence_chunks(spark, sf_dir).withColumn(
        "_link",
        F.pmod(F.split_part(F.col("doc_id"), F.lit("-"), F.lit(3)).cast("bigint"), F.lit(n_docs)),
    )
    expected = all_ch.filter(F.col("_link").isin(list(keep))).count()
    assert ch.count() == expected


def test_repetition_and_contamination_bounds(spark, sf_dir):
    """Both new corpus-hygiene signals are proper fractions with exact
    consistency identities: intra_dup = (occurrences - distinct)/occurrences,
    contamination counts only distinct grams also present in the benchmark
    sample, and benchmark docs themselves are excluded from the report."""
    for r in DP.repetition_stats(spark, sf_dir).collect():
        assert 0 <= r.n_distinct <= r.n_grams
        assert 1 <= r.top_gram_n <= r.n_grams
        assert 0.0 <= r.intra_dup_rate <= 1.0 and 0.0 < r.top_gram_share <= 1.0
    rows = DP.benchmark_contamination(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.doc_id % DP.BENCH_DOC_MOD != 0
        assert 0 <= r.n_contaminated <= r.n_distinct
        assert 0.0 <= r.contamination_rate <= 1.0


def test_pii_scrub_stats_redaction(spark):
    rows = [
        (1, "mail a.b-c@foo.org and x@y.io plus https://a/b?q=1 tail"),
        (2, "digits 123456789 twice 000000 but not 12345"),
        (3, "clean text only"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in DP.pii_scrub_stats(df).collect()}
    import hashlib

    assert (out[1].n_emails, out[1].n_urls, out[1].n_longnums) == (2, 1, 0)
    assert (out[2].n_emails, out[2].n_urls, out[2].n_longnums) == (0, 0, 2)
    assert (out[3].n_emails, out[3].n_urls, out[3].n_longnums) == (0, 0, 0)
    assert out[1].clean_md5 == hashlib.md5(
        b"mail <EMAIL> and <EMAIL> plus <URL> tail"
    ).hexdigest()
    assert out[3].clean_md5 == hashlib.md5(b"clean text only").hexdigest()


def test_token_vocab_topk_coverage(spark, sf_dir):
    rows = DP.token_vocab_topk(spark, sf_dir).orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    shares = [r.cum_share for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:])) and shares[-1] <= 1.0


def test_sequence_chunks_reassemble(spark, sf_dir):
    """Chunking must be lossless: concatenating a sequence's chunks in
    chunk_id order reproduces the original token stream; all chunks but the
    last are exactly SEQ_CHUNK_LEN tokens."""
    from go_fluentd_spark.sources.synth import sequences_df

    orig = {
        r.doc_id: ",".join(str(t) for t in r.tokens)
        for r in sequences_df(spark, sf_dir).limit(200).collect()
    }
    chunks = (
        DP.sequence_chunks(spark, sf_dir)
        .filter(F.col("doc_id").isin(list(orig)))
        .collect()
    )
    by_doc = {}
    for r in sorted(chunks, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        assert ",".join(r.tokens_csv for r in rows) == orig[doc_id]
        assert all(r.n_chunk_tok == DP.SEQ_CHUNK_LEN for r in rows[:-1])
        assert 1 <= rows[-1].n_chunk_tok <= DP.SEQ_CHUNK_LEN


def test_substr_dup_spans_guarantees(spark, sf_dir):
    """Invariants of the suffix-array-style substring dedup: (1) a sequence
    has dup SPANS iff it has dup GRAMS (agreement with token_ngram_dup_stats);
    (2) spans are disjoint intervals inside the sequence, so dup_tok <= n_tok
    and max_span_tok <= dup_tok; (3) the cut only removes tokens covered by
    spans >= SUBSTR_CUT_MIN: n_tok - dup_tok <= n_tok_kept <= n_tok, and the
    kept CSV re-packs exactly n_tok_kept tokens in original order."""
    spans = {r.doc_id: r for r in DP.substr_dup_spans(spark, sf_dir).collect()}
    dup = {r.doc_id: r for r in DP.token_ngram_dup_stats(spark, sf_dir).collect()}
    assert spans.keys() == dup.keys()
    n_with_spans = 0
    n_cut = 0
    for d, r in spans.items():
        assert (r.n_spans > 0) == (dup[d].n_dup_grams > 0)
        if r.n_spans:
            n_with_spans += 1
            assert 0 < r.max_span_tok <= r.dup_tok <= r.n_tok
        else:
            assert r.dup_tok == 0 and r.max_span_tok == 0
        assert r.n_tok - r.dup_tok <= r.n_tok_kept <= r.n_tok
        kept = [t for t in r.kept_csv.split(",") if t != ""]
        assert len(kept) == r.n_tok_kept
        if r.n_tok_kept < r.n_tok:
            n_cut += 1
    assert n_with_spans > 0, "corpus should contain duplicated substrings"
    assert n_cut > 0, "the cut should fire on this corpus"
    # kept tokens are a SUBSEQUENCE of the original token stream
    sample = next(d for d, r in spans.items() if 0 < r.n_tok_kept < r.n_tok)
    from go_fluentd_spark.sources.synth import sequences_df

    orig = (
        sequences_df(spark, sf_dir)
        .filter(F.col("doc_id") == sample)
        .collect()[0]
        .tokens
    )
    kept = [int(t) for t in spans[sample].kept_csv.split(",")]
    it = iter(orig)
    assert all(any(o == k for o in it) for k in kept), "kept not a subsequence"


def test_dedup_clusters_fixed_point_and_cover(spark, sf_dir):
    """Every verified pair must land in one cluster, and representatives
    must cover the corpus exactly (the fixed point itself is pinned by the
    adversarial graph test below)."""
    clusters = DP.dedup_clusters(spark, sf_dir)
    base = {r.doc_id: r.cluster for r in clusters.collect()}
    for r in DP.minhash_lsh_pairs(spark, sf_dir).collect():
        assert base[r.a_doc] == base[r.b_doc]
    n_docs = DP.docs(spark, sf_dir).count()
    agg = clusters.filter("is_rep = 1").agg(
        F.sum("cluster_sz").alias("covered"), F.count("*").alias("n_reps")
    ).collect()[0]
    assert agg.covered == n_docs  # every doc in exactly one rep's cluster
    assert clusters.count() == n_docs
    assert agg.n_reps < n_docs  # the corpus really has near-dup groups


def test_dedup_clusters_reliable_checkpoint(spark, sf_dir, tmp_path):
    """Cluster-mode knob: with ``checkpoint_dir`` set, the CC loop truncates
    lineage through a RELIABLE checkpoint (survives executor loss) instead
    of localCheckpoint — results must be identical, the checkpoint files
    must actually land in the given dir, and the run sets the directory
    once (Spark makes one UUID subdirectory per ``setCheckpointDir``)."""
    import os

    ckpt = tmp_path / "cc_ckpt"
    base = {
        r.doc_id: (r.cluster, r.cluster_sz, r.is_rep)
        for r in DP.dedup_clusters(spark, sf_dir).collect()
    }
    rel = {
        r.doc_id: (r.cluster, r.cluster_sz, r.is_rep)
        for r in DP.dedup_clusters(spark, sf_dir, checkpoint_dir=str(ckpt)).collect()
    }
    assert rel == base
    assert any(files for _, _, files in os.walk(ckpt)), "no reliable checkpoint written"
    assert len(os.listdir(ckpt)) == 1, os.listdir(ckpt)


def _adversarial_graph() -> tuple[list[tuple[int, int]], list[int]]:
    """(pairs, vertices): a 64-vertex chain over seeded non-monotone ids
    (local id minima many hops apart), a 5-cycle, a 6-leaf star whose centre
    is its largest id, and 3 isolated vertices."""
    import random

    ids = random.Random(20141103).sample(range(1_000, 1_000_000), 64 + 5 + 7 + 3)
    chain, cycle, star, iso = ids[:64], ids[64:69], sorted(ids[69:76]), ids[76:]
    pairs = list(zip(chain, chain[1:]))
    pairs += list(zip(cycle, cycle[1:] + cycle[:1]))
    pairs += [(star[-1], leaf) for leaf in star[:-1]]
    assert iso and not {v for p in pairs for v in p} & set(iso)
    return pairs, ids


def _union_find(pairs, vertices) -> dict[int, tuple[int, int, int]]:
    """vertex -> (cluster, cluster_sz, is_rep), cluster = component min."""
    from collections import Counter

    parent = {v: v for v in vertices}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    root = {v: find(v) for v in vertices}
    size = Counter(root.values())
    return {v: (r, size[r], int(v == r)) for v, r in root.items()}


def test_cc_converges_on_adversarial_graph(spark, monkeypatch):
    """The CC must reach the fixed point on a graph the testdata never
    builds — a long chain whose id minima are far apart, a cycle, a star
    centred off its minimum, isolated vertices — with one representative
    per component, and in O(log² n) star rounds: at most 8 truncated rounds
    after the edge frame (min-label propagation needs ~one round per hop)."""
    pairs, vertices = _adversarial_graph()
    want = _union_find(pairs, vertices)
    calls = []
    truncate = DP._truncate_lineage

    def counting(df, reliable):
        calls.append(reliable)
        return truncate(df, reliable)

    monkeypatch.setattr(DP, "_truncate_lineage", counting)
    got = DP._cc_clusters(
        spark.createDataFrame(pairs, "a bigint, b bigint"),
        spark.createDataFrame([(v,) for v in vertices], "vid bigint"),
        "vid",
    )
    assert got.columns == ["vid", "cluster", "cluster_sz", "is_rep"]
    assert {r.vid: (r.cluster, r.cluster_sz, r.is_rep) for r in got.collect()} == want
    assert sum(rep for _, _, rep in want.values()) == 1 + 1 + 1 + 3
    assert len(calls) <= 9, len(calls)


def test_cc_oracle_twin_on_adversarial_graph():
    """The DuckDB twin of the CC (a recursive reachability closure) equals
    the union-find on the same graph, also through the CTE-materializing
    rewrite the benchmark's curation check runs it under.  No Spark."""
    import duckdb

    from go_fluentd_spark.oracle_dataprep import _cc_sql
    from perfbench.checks import materialized

    pairs, vertices = _adversarial_graph()
    want = _union_find(pairs, vertices)
    con = duckdb.connect()
    con.execute("CREATE TABLE p (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    con.execute("CREATE TABLE verts (vid BIGINT)")
    con.executemany("INSERT INTO verts VALUES (?)", [(v,) for v in vertices])
    sql = _cc_sql("SELECT a, b FROM p", "a", "b", "verts", "vid")
    for q in (sql, materialized(sql)):
        cur = con.execute(q)
        assert [d[0] for d in cur.description] == ["vid", "cluster", "cluster_sz", "is_rep"]
        assert {v: (c, n, rep) for v, c, n, rep in cur.fetchall()} == want


def test_ivf_topk_recall(spark, sf_dir):
    exact = [r.vec_id for r in DP.embed_topk(spark, sf_dir, k=10).collect()]
    approx = [r.vec_id for r in DP.embed_ivf_topk(spark, sf_dir, k=10).collect()]
    recall = len(set(exact) & set(approx)) / 10
    # probing 2/8 clusters of random vectors: top-1 (the query itself) must
    # always be found; overall recall should be materially above chance
    assert exact[0] in approx
    assert recall >= 0.3, (recall, exact, approx)


def test_ivf_kmeans_recall(spark):
    """Really-fit centroids behind the IVF contract: probing HALF of 16 lists
    must reach recall@10 >= 0.9 vs brute force — the fit-quality bar a
    production IVF index needs, on the deterministic distributed Lloyd fit
    (the oracle-checked one).  Pinned to sf0.01: at sf0.001 the corpus is 50
    vectors, where 16 clusters is degenerate geometry."""
    sf = "/root/testdata/sf0.01"
    exact = [r.vec_id for r in DP.embed_topk(spark, sf, k=10).collect()]
    approx = [
        r.vec_id
        for r in DP.embed_ivf_kmeans_topk(spark, sf, k=10, probe=8, n_clusters=16).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)


def test_dedup_exact_accounts_for_all_docs(spark, sf_dir):
    d = DP.dedup_exact(spark, sf_dir)
    total_docs = DP.docs(spark, sf_dir).count()
    agg = d.agg(F.sum("n_dup").alias("s"), F.count("*").alias("groups")).collect()[0]
    assert agg.s == total_docs
    assert agg.groups <= total_docs


def test_banded_lsh_beats_fixed_buckets(spark, sf_dir):
    """The scale check behind embed_banded_pairs: at the chosen (bands,
    planes/band) the banded layout must produce FEWER candidate pairs than
    the fixed 2^8-bucket variant while recovering MORE true pairs — i.e. the
    per-bucket math (bands * N^2 / 2^rplanes) buys recall, not just volume."""
    tau = 0.3
    # ground truth: brute-force cosine pairs via numpy (test-side only)
    import numpy as np

    rows = DP.embs(spark, sf_dir).select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    iu = np.triu_indices(len(ids), 1)
    truth = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i, j in zip(*iu)
        if C[i, j] >= tau
    }
    assert truth

    # fixed-bucket candidates (the round-1 variant): all pairs sharing the
    # single 8-plane signature
    b0 = DP.embed_lsh_buckets(spark, sf_dir).select("vec_id", "bucket")
    cand_fixed = (
        b0.alias("a")
        .join(b0.alias("b"), "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("a_vec"), F.col("b.vec_id").alias("b_vec"))
        .distinct()
    )
    # banded candidates with the per-bucket cap
    bk = DP.embed_band_buckets(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket").orderBy("vec_id")
    bk = bk.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= DP.EMB_BUCKET_CAP
    )
    cand_banded = (
        bk.alias("a")
        .join(bk.alias("b"), ["band", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("a_vec"), F.col("b.vec_id").alias("b_vec"))
        .distinct()
    )
    fixed = {(r.a_vec, r.b_vec) for r in cand_fixed.collect()}
    banded = {(r.a_vec, r.b_vec) for r in cand_banded.collect()}
    recall_fixed = len(fixed & truth) / len(truth)
    recall_banded = len(banded & truth) / len(truth)
    assert len(banded) < len(fixed), (len(banded), len(fixed))
    assert recall_banded > recall_fixed, (recall_banded, recall_fixed)


def test_ngram_blocks_bounded_on_skew(spark):
    """Adversarial skew: hundreds of docs in ONE (lang, length) block.  The
    sorted-neighbourhood rank windows must bound every join group to
    2*window members by construction — the O(B^2) failure mode is gone."""
    window = 16
    n = 300
    rows = [(f"d{i:04d}", "en", 40, ["abcd", "bcde"]) for i in range(n)]
    d = spark.createDataFrame(
        rows, "doc_id string, lang string, n_chars int, sh array<string>"
    )
    blocked = DP.ngram_candidate_blocks(d, window=window)
    sizes = blocked.groupBy("lang", "blk", "rbk").agg(F.count(F.lit(1)).alias("sz"))
    assert sizes.agg(F.max("sz")).collect()[0][0] <= 2 * window
    # candidate volume is O(B * window), not O(B^2)
    n_cand = (
        blocked.alias("a")
        .join(blocked.alias("b"), ["lang", "blk", "rbk"])
        .filter(
            (F.col("b.rk") > F.col("a.rk")) & (F.col("b.rk") - F.col("a.rk") <= window)
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert n_cand <= 2 * n * window  # vs n*(n-1)/2 = 44850 unbounded


def test_token_ngram_dup_stats_bounds(spark, sf_dir):
    """Tokens-native dedup signal: rates bounded, counts consistent, and the
    synthetic corpus genuinely contains cross-sequence token 8-gram overlap
    (the arithmetic token generator creates aligned runs between some dids)."""
    rows = DP.token_ngram_dup_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dup_grams <= max(r.n_grams, 0)
        assert 0.0 <= r.dup_rate <= 1.0
    assert any(r.n_dup_grams > 0 for r in rows), "corpus should contain dup grams"


def test_winnowing_guarantee(spark, tmp_path):
    """The winnowing property (Schleimer et al.): two documents sharing a
    substring of length >= w + k - 1 chars MUST share at least one
    fingerprint; disjoint-alphabet documents share none."""
    shared = "zqxjvkwpbf mglh"  # 15 chars >= W + K - 1 = 8
    rows = [
        ("0", "aaa " + shared + " bbb"),
        ("1", "ccc ddd " + shared),
        ("2", "eeee ffff gggg hhhh iiii"),  # no shared k-grams with 0/1
    ]
    spark.createDataFrame(rows, "doc_id string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    fps = {
        r.doc_id: set(r.fps_csv.split(","))
        for r in DP.winnow_fingerprints(spark, str(tmp_path)).collect()
    }
    assert fps["0"] & fps["1"], "shared substring must share a fingerprint"
    assert not (fps["0"] & fps["2"])


def test_simhash_identical_docs_collide(spark, sf_dir):
    # exact duplicates (same text) must have identical simhash
    dups = (
        DP.docs(spark, sf_dir)
        .groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = dups.collect()
    if not pairs:  # sf0.001 has no exact dups; property still checked via self
        return
    sh = {r.doc_id: r.simhash for r in DP.simhash16(spark, sf_dir).collect()}
    for p in pairs:
        vals = {sh[i] for i in p.ids}
        assert len(vals) == 1
