"""Hot-tag skew handling: one tag dominates traffic (the prod norm,
reference docs/quickstart.md:122-127 — a single tag ≈ 100% of msgs).  The
pipeline's one shuffle, the concat's Exchange, hashes (tag, container_id),
not the tag alone, so the hot tag's rows spread over every shuffle
partition by container; and the hot-gram corpus for substr_dup_spans."""

from pyspark.sql import functions as F

from go_fluentd_spark.plans import pipeline as P


def test_concat_exchange_spreads_hot_tag(spark, sf_dir):
    """With AQE coalescing off (so the 16 shuffle partitions stay 16), the
    post-concat rows spread evenly under the synth's hot-tag mix, where a
    tag-keyed exchange would put each of the few hot tags' rows into one
    partition."""
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
    }
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = P.concatted(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
        assert len(exchanges) == 1, plan
        assert "hashpartitioning(tag#" in exchanges[0] and ", container_id#" in exchanges[0]
        assert exchanges[0].rstrip().split("), ")[0].endswith(", 16"), exchanges[0]

        rows = (
            df.select(
                "tag",
                F.spark_partition_id().alias("p"),
                # the partition a tag-only exchange would send the row to
                F.pmod(F.hash("tag"), F.lit(16)).alias("p_tag"),
            )
            .groupBy("tag", "p", "p_tag")
            .count()
            .collect()
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    total = sum(r["count"] for r in rows)
    mean = total / 16

    def imbalance(key):
        sizes: dict[int, int] = {}
        for r in rows:
            sizes[r[key]] = sizes.get(r[key], 0) + r["count"]
        return max(sizes.values()) / mean, len(sizes)

    by_tag: dict[str, int] = {}
    for r in rows:
        by_tag[r.tag] = by_tag.get(r.tag, 0) + r["count"]
    # the synth mix: the spring base is ~80% of pre-retag rows over 3 envs
    assert max(by_tag.values()) / total > 0.2, by_tag
    imb_tag, _ = imbalance("p_tag")
    imb, used = imbalance("p")
    assert imb_tag > 3.0, imb_tag
    assert used == 16 and imb < 1.6, (imb, used)


def test_substr_dup_spans_hot_gram(spark, tmp_path):
    """Adversarial HOT-GRAM corpus for substr_dup_spans (VERDICT r5 #1):
    hundreds of docs share an IDENTICAL token stream, so every one of their
    8-grams occurs in every one of them — the single-gram occurrence count
    is ~|corpus|, the shape that made the previous min/max-window-over-gram
    formulation put the whole corpus into one task's sort.  The de-skewed
    groupBy + semi-join form must produce exactly the brute-force expected
    spans/cut for every doc (hot docs AND unique-stream controls).

    Construction: did = k * 50257 gives did ≡ 0 (mod 50257) — ONE shared
    token stream for every hot doc (lengths vary; every gram of a shorter
    doc occurs in all longer ones); a few small unique dids are the
    non-duplicated controls.  dids stay < 10^8 (the doc_id seq field is
    lpad'd to 8 chars)."""
    from go_fluentd_spark.operators.dataprep import (
        SUBSTR_CUT_MIN,
        TOKEN_B,
        TOKEN_NGRAM,
        TOKEN_P,
        substr_dup_spans,
    )

    hot = [k * 50257 for k in range(1, 500)]
    uniq = [3, 7, 11, 123, 4567]
    dids = hot + uniq
    sf = tmp_path / "hotgram"
    sf.mkdir()
    spark.createDataFrame(
        [(d,) for d in dids], "o_orderkey bigint"
    ).write.parquet(str(sf / "orders.parquet"))

    # pure-Python brute force with the exact synth + gram arithmetic
    L = TOKEN_NGRAM
    toks = {}
    for did in dids:
        n = 1 + (did * 131071) % (512 if did % 10 == 0 else 64)
        toks[did] = [(did * 2654435761 + i * 40503) % 50257 for i in range(n)]
    gram_docs: dict[int, set] = {}
    gram_pos: dict[int, list] = {}
    for did, ts in toks.items():
        lst = []
        for i in range(len(ts) - (L - 1)):
            acc = 0
            for j in range(L):
                acc = (acc * TOKEN_B + ts[i + j]) % TOKEN_P
            lst.append((i + 1, acc))
            gram_docs.setdefault(acc, set()).add(did)
        gram_pos[did] = lst
    expected = {}
    for did, ts in toks.items():
        dup_pos = [p for p, g in gram_pos[did] if len(gram_docs[g]) > 1]
        runs: list[list[int]] = []
        for p in dup_pos:
            if not runs or p - runs[-1][-1] > L:
                runs.append([p])
            else:
                runs[-1].append(p)
        spans = [(r[0], r[-1] + L - 1) for r in runs]
        dup_tok = sum(e - s + 1 for s, e in spans)
        cut = [(s, e) for s, e in spans if e - s + 1 >= SUBSTR_CUT_MIN]
        kept = [
            t
            for i, t in enumerate(ts)
            if not any(s <= i + 1 <= e for s, e in cut)
        ]
        expected[did] = (
            len(ts),
            len(spans),
            max((e - s + 1 for s, e in spans), default=0),
            dup_tok,
            len(kept),
            ",".join(str(t) for t in kept),
        )

    # hot docs whose stream is a prefix of a longer hot doc's are fully
    # covered by ONE span and (when long enough) fully cut — assert the
    # adversarial construction really produced that case
    fully_cut = [
        d
        for d, (n, ns, mx, dup, nk, _) in expected.items()
        if d in set(hot)
        and n >= SUBSTR_CUT_MIN
        and (ns, mx, dup, nk) == (1, n, n, 0)
    ]
    assert len(fully_cut) > 100, len(fully_cut)

    out = substr_dup_spans(spark, str(sf)).collect()
    assert len(out) == len(dids)
    for r in out:
        did = int(r.doc_id.rsplit("-", 1)[-1])
        n_tok, n_spans, mx, dup_tok, n_kept, kept_csv = expected[did]
        assert (r.n_tok, r.n_spans, r.max_span_tok, r.dup_tok) == (
            n_tok, n_spans, mx, dup_tok,
        ), did
        assert (r.n_tok_kept, r.kept_csv) == (n_kept, kept_csv), did
        assert abs(r.dup_frac - dup_tok / n_tok) < 5.1e-5, did
