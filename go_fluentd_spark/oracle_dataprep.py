"""DuckDB mirrors of the training-data operators (operators/dataprep.py).
Constants imported from the Spark side — one source of truth."""

from __future__ import annotations

from go_fluentd_spark.operators import dataprep as D

H = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"  # stable_hash64


def _norm(x: str) -> str:
    return f"trim(regexp_replace(lower({x}), '\\s+', ' '))"


_SHINGLES = f"""
list_distinct(list_transform(
  range(1, greatest(len(text) - {D.SHINGLE_K - 1}, 1) + 1),
  i -> substr(text, i, {D.SHINGLE_K})))
"""


def _gram_hash_sql() -> str:
    """Horner polynomial over char codes, mod MINHASH_P — generated with the
    SAME fold order as dataprep._with_shingle_hashes (acc = (acc*B + code) % P
    per step), so the int64 arithmetic is identical in both engines."""
    acc = "CAST(0 AS BIGINT)"  # seed BIGINT so the fold never overflows INT32
    for j in range(D.SHINGLE_K):
        acc = (
            f"(({acc}) * {D.MH_GRAM_B} + "
            f"ascii(substr(t, CAST(i + {j} AS INT), 1))) % {D.MINHASH_P}"
        )
    return acc


def _shingle_hashes_sql(cols: str, out: str = "hs", distinct: bool = True) -> str:
    """Subquery text: (cols, ``out`` = polynomial gram hashes, distinct by
    default to mirror dataprep._with_shingle_hashes)."""
    gram = _gram_hash_sql()
    lst = (
        f"list_transform(range(1, greatest(length(t) - {D.SHINGLE_K - 1}, 1) + 1),"
        f" i -> {gram})"
    )
    if distinct:
        lst = f"list_distinct({lst})"
    return f"""
  SELECT {cols}, {lst} AS {out}
  FROM (SELECT {cols}, CASE WHEN length(text) < {D.SHINGLE_K}
                            THEN rpad(text, {D.SHINGLE_K}, '#')
                            ELSE text END AS t
        FROM documents)"""


def q_dedup_exact() -> str:
    return """
SELECT md5(text) AS text_md5, count(*) AS n_dup, min(doc_id) AS rep_doc_id
FROM documents GROUP BY md5(text)"""


def q_fingerprints() -> str:
    return f"""
SELECT doc_id, {H.format(x=_norm('text'))} AS fingerprint FROM documents"""


def q_token_stats() -> str:
    n = _norm("text")
    return f"""
SELECT doc_id,
  len(string_split({n}, ' ')) AS n_ws_tokens,
  len(regexp_extract_all({n}, '{D.BPE_TOKEN_RE}')) AS n_bpe_tokens,
  length(text) AS n_chars_actual
FROM documents"""


def q_token_lm_scores() -> str:
    """Mirror of operators/dataprep.py::token_lm_scores (bigram-LM corpus-fit
    score over the shared BPE-ish tokens).  Same per-row quantization
    recipe: each bigram's ln(c(a,b)/c(a)) is rounded + x-scale
    BIGINT-quantized PER ROW, then summed in exact int64 — float summation
    order never matters, so the engines agree.  DuckDB lists are 1-based
    (Spark SQL subscripts 0-based): range(1, n_toks) yields the same
    n_toks-1 (toks[i], toks[i+1]) pairs."""
    q = D.LM_LOGPROB_SCALE
    return f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all({_norm('text')}, '{D.BPE_TOKEN_RE}') AS toks
  FROM documents),
d2 AS (SELECT doc_id, toks, len(toks) AS n_toks FROM d),
big AS (
  SELECT doc_id,
    UNNEST(list_transform(range(1, CAST(n_toks AS INT)),
                          i -> {{'a': toks[i], 'b': toks[i + 1]}})) AS bg
  FROM d2 WHERE n_toks >= 2),
big2 AS (SELECT doc_id, bg.a AS a, bg.b AS b FROM big),
bc AS (SELECT a, b, count(*) AS c_ab FROM big2 GROUP BY a, b),
cc AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM bc GROUP BY a),
terms AS (
  SELECT doc_id,
         CAST(round(round(ln(CAST(c_ab AS DOUBLE) / c_a), 4) * {q}, 0) AS BIGINT) AS tq
  FROM big2 JOIN bc USING (a, b) JOIN cc USING (a)),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams, CAST(sum(tq) AS BIGINT) AS sum_logprob_q
  FROM terms GROUP BY doc_id),
everydoc AS (
  SELECT * FROM scored
  UNION ALL
  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM d2 WHERE n_toks < 2)
SELECT doc_id, n_bigrams, sum_logprob_q,
       CASE WHEN n_bigrams > 0
            THEN round(sum_logprob_q / ({q}.0 * n_bigrams), 4)
            ELSE 0.0 END AS avg_logprob
FROM everydoc"""


def q_winnow_fingerprints() -> str:
    K, W, P = D.WINNOW_K, D.WINNOW_W, D.WINNOW_P
    pows = ", ".join(str(p) for p in D._WINNOW_POWS)
    gram = (
        f"list_sum(list_transform(range(0, {K}), "
        f"j -> ascii(substr(t, CAST(i + j AS INT), 1)) * ([{pows}])[j + 1])) % {P}"
    )
    return f"""
WITH t0 AS (
  SELECT doc_id, CASE WHEN length(nrm) < {K} THEN rpad(nrm, {K}, '#') ELSE nrm END AS t
  FROM (SELECT doc_id, {_norm('text')} AS nrm FROM documents)),
h AS (
  SELECT doc_id, greatest(length(t) - {K - 1}, 1) AS n_grams,
    list_transform(range(1, greatest(length(t) - {K - 1}, 1) + 1), i -> {gram}) AS hs
  FROM t0),
w AS (
  SELECT doc_id, n_grams,
    list_sort(list_distinct(list_transform(
      range(1, greatest(n_grams - {W - 1}, 1) + 1),
      s -> list_min(list_slice(hs, s, s + {W - 1}))))) AS fps
  FROM h)
SELECT doc_id, n_grams, len(fps) AS n_fps, array_to_string(fps, ',') AS fps_csv
FROM w"""


def _count(t: str, needle: str) -> str:
    return f"CAST((length({t}) - length(replace({t}, '{needle}', ''))) / {len(needle)} AS BIGINT)"


def q_quality_scores() -> str:
    t = f"' ' || {_norm('text')} || ' '"
    n_words = f"len(string_split({_norm('text')}, ' '))"
    stop = " + ".join(_count(t, f" {w} ") for w in D.STOPWORDS)
    n_punct = r"len(regexp_extract_all(text, '[^\w\s]'))"
    score = (
        f"least({n_words} / 100.0, 1.0) * 0.4"
        f" + least(({stop}) * 5.0 / {n_words}, 1.0) * 0.4"
        f" + (1.0 - least({n_punct} * 10.0 / length(text), 1.0)) * 0.2"
    )
    return f"""
SELECT doc_id, {n_words} AS n_words, ({stop}) AS stopword_hits,
  {n_punct} AS n_punct, round({score}, 4) AS quality
FROM documents"""


def q_langid() -> str:
    t = f"' ' || {_norm('text')} || ' '"
    hits = {
        lang: " + ".join(_count(t, f" {w} ") for w in ws)
        for lang, ws in D.LANG_MARKERS.items()
    }
    return f"""
SELECT doc_id, lang AS lang_tagged,
  ({hits['en']}) AS en_hits, ({hits['de']}) AS de_hits, ({hits['es']}) AS es_hits,
  CASE
    WHEN ({hits['en']}) >= ({hits['de']}) AND ({hits['en']}) >= ({hits['es']}) AND ({hits['en']}) > 0 THEN 'en'
    WHEN ({hits['de']}) >= ({hits['es']}) AND ({hits['de']}) > 0 THEN 'de'
    WHEN ({hits['es']}) > 0 THEN 'es'
    ELSE 'unknown' END AS lang_pred
FROM documents"""


def q_minhash_signatures() -> str:
    sig_cols = ",\n  ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {D.MINHASH_P})) AS sig{j}"
        for j, (a, b) in enumerate(zip(D.HASH_A, D.HASH_B))
    )
    return f"""
WITH hs AS ({_shingle_hashes_sql('doc_id, lang')})
SELECT doc_id, lang, {sig_cols} FROM hs"""


def _minhash_bands_sql() -> str:
    """CTE chain ``sig`` -> ``bands(doc_id, band, bucket)``."""
    r = D.NUM_HASHES // D.NUM_BANDS
    band_selects = []
    for b in range(D.NUM_BANDS):
        acc = "0"
        for j in range(b * r, (b + 1) * r):
            acc = f"(({acc}) * 31 + sig{j}) % {D.MINHASH_P}"
        band_selects.append(f"SELECT doc_id, {b} AS band, {acc} AS bucket FROM sig")
    return f"""sig AS ({q_minhash_signatures().strip()}),
bands AS (
  {" UNION ALL ".join(band_selects)})"""


def q_minhash_band_stats() -> str:
    return f"""
WITH {_minhash_bands_sql()},
sizes AS (
  SELECT band, bucket, count(*) AS sz FROM bands GROUP BY band, bucket)
SELECT band, count(*) AS n_buckets, max(sz) AS max_bucket,
  CAST(sum(greatest(sz - {D.MH_BUCKET_CAP}, 0)) AS BIGINT) AS n_overflow
FROM sizes GROUP BY band"""


def q_minhash_lsh_pairs() -> str:
    return f"""
WITH {_minhash_bands_sql()},
capped AS (
  SELECT doc_id, band, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rk
    FROM bands) t
  WHERE rk <= {D.MH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sh AS ({_shingle_hashes_sql('doc_id', out='s')})
SELECT a_doc, b_doc,
  round(len(list_filter(sa.s, x -> list_contains(sb.s, x))) * 1.0
        / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 4) AS jaccard
FROM cand JOIN sh sa ON sa.doc_id = a_doc JOIN sh sb ON sb.doc_id = b_doc
WHERE round(len(list_filter(sa.s, x -> list_contains(sb.s, x))) * 1.0
        / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 4) >= {D.JACCARD_TAU}"""


def _cc_sql(pairs_sql: str, a: str, b: str, vertex_table: str, id_col: str) -> str:
    """Connected components as a recursive reachability closure: every
    vertex reaches itself and, through ``pairs_sql``'s (a, b) edges in both
    directions, its whole component (UNION set semantics stop the
    recursion); its cluster is the least vertex reached.  Shares no logic
    with the Spark star rounds (dataprep._cc_clusters), so the fixed point
    is checked, not mirrored."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql.strip()}),
edges AS (SELECT {a} AS src, {b} AS dst FROM pairs
          UNION SELECT {b}, {a} FROM pairs),
reach(v, r) AS (
  SELECT {id_col}, {id_col} FROM {vertex_table}
  UNION
  SELECT reach.v, edges.dst FROM reach JOIN edges ON edges.src = reach.r),
lbl AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v),
sizes AS (SELECT cluster, count(*) AS cluster_sz FROM lbl GROUP BY cluster)
SELECT lbl.v AS {id_col}, lbl.cluster, sizes.cluster_sz,
  CAST(lbl.v = lbl.cluster AS INT) AS is_rep
FROM lbl JOIN sizes USING (cluster)"""


def q_dedup_clusters() -> str:
    """Twin of dataprep.dedup_clusters: CC over the capped LSH pairs."""
    return _cc_sql(q_minhash_lsh_pairs(), "a_doc", "b_doc", "documents", "doc_id")


def q_embed_dedup_clusters() -> str:
    """Twin of dataprep.embed_dedup_clusters: CC over the capped
    banded-LSH cosine pairs."""
    return _cc_sql(q_embed_banded_pairs(), "a_vec", "b_vec", "embeddings", "vec_id")


def q_pii_scrub() -> str:
    """Mirror of dataprep.pii_scrub (+_stats): same 1-in-3 injection, same
    RE2-subset regexes, counts before redaction, same replacement order."""
    em, url, num = D.PII_EMAIL_RE, D.PII_URL_RE, D.PII_LONGNUM_RE
    cleaned = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{em}', '<EMAIL>', 'g'), '{url}', '<URL>', 'g'), "
        f"'{num}', '<NUM>', 'g')"
    )
    return f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com see https://ex.com/d/' || CAST(doc_id AS VARCHAR)
              || ' ref 9876543210'
         ELSE text END AS text
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{url}')) AS BIGINT) AS n_urls,
  CAST(len(regexp_extract_all(text, '{num}')) AS BIGINT) AS n_longnums,
  md5({cleaned}) AS clean_md5
FROM t"""


def q_corpus_curation() -> str:
    """Mirror of dataprep.corpus_curation: compose the cluster, quality,
    language, and LM-score CTEs and apply the same keep rule."""
    return f"""
WITH cl AS ({q_dedup_clusters().strip()}),
q AS ({q_quality_scores().strip()}),
l AS ({q_langid().strip()}),
lm AS ({q_token_lm_scores().strip()})
SELECT cl.doc_id, cl.cluster, cl.is_rep, q.quality, l.lang_pred,
  lm.avg_logprob AS lm_logprob,
  CAST(cl.is_rep = 1 AND q.quality >= {D.CURATION_MIN_QUALITY}
       AND l.lang_pred != 'unknown'
       AND lm.avg_logprob >= {D.CURATION_MIN_LM_LOGPROB} AS INT) AS keep
FROM cl JOIN q ON q.doc_id = cl.doc_id JOIN l ON l.doc_id = cl.doc_id
JOIN lm ON lm.doc_id = cl.doc_id"""


def q_ngram_jaccard_pairs() -> str:
    W = D.NGRAM_RANK_WINDOW
    return f"""
WITH d AS (
  SELECT doc_id, lang, n_chars, {_SHINGLES} AS s FROM documents),
blocked AS (
  SELECT doc_id, lang, n_chars, s, blk
  FROM d, UNNEST([CAST(n_chars / {D.LEN_BUCKET} AS BIGINT),
                  CAST(n_chars / {D.LEN_BUCKET} AS BIGINT) + 1]) AS t(blk)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang, blk ORDER BY n_chars, doc_id) AS rk
  FROM blocked),
rb AS (
  SELECT doc_id, lang, blk, rk, rbk
  FROM ranked, UNNEST([CAST(floor((rk - 1) / {W}) AS BIGINT),
                       CAST(floor((rk - 1) / {W}) AS BIGINT) + 1]) AS t(rbk)),
pairs AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_doc,
                  greatest(a.doc_id, b.doc_id) AS b_doc
  FROM rb a JOIN rb b
    ON a.lang = b.lang AND a.blk = b.blk AND a.rbk = b.rbk
   AND b.rk > a.rk AND b.rk - a.rk <= {W}),
j AS (
  SELECT a_doc, b_doc,
    len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS i,
    len(sa.s) AS la, len(sb.s) AS lb
  FROM pairs JOIN d sa ON sa.doc_id = a_doc JOIN d sb ON sb.doc_id = b_doc)
SELECT a_doc, b_doc, round(i * 1.0 / (la + lb - i), 4) AS jaccard
FROM j WHERE round(i * 1.0 / (la + lb - i), 4) >= {D.JACCARD_TAU}"""


def q_simhash16() -> str:
    bits = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hw, h -> (h >> {b}) % 2 = 1)) > len(hw) THEN {1 << b} ELSE 0 END"
        for b in range(16)
    )
    return f"""
WITH w AS (
  SELECT doc_id,
    list_transform(string_split({_norm('text')}, ' '), x -> {H.format(x='x')} % 65536) AS hw
  FROM documents)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM w"""


def _dot(a: str, b: str, n: int = D.EMB_DIM) -> str:
    return f"list_sum(list_transform(range(1, {n} + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"


def q_embed_cosine_scores() -> str:
    dot = _dot("e.embedding", "q.qv")
    na = f"sqrt({_dot('e.embedding', 'e.embedding')})"
    nq = f"sqrt({_dot('q.qv', 'q.qv')})"
    return f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT e.vec_id, e.label, round({dot} / ({na} * {nq}), 4) AS cos
FROM embeddings e, q"""


def q_embed_lsh_buckets() -> str:
    terms = []
    for j in range(D.LSH_PLANES):
        weights = ", ".join(str(D._plane_weight(i, j)) for i in range(D.EMB_DIM))
        dot = (
            f"list_sum(list_transform(range(1, {D.EMB_DIM} + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{weights}])[i]))"
        )
        terms.append(f"CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END")
    return f"""
SELECT vec_id, label, CAST({' + '.join(terms)} AS INT) AS bucket FROM embeddings"""


def q_embed_near_pairs(tau: float = 0.3) -> str:
    bucket = q_embed_lsh_buckets().strip()
    dot = _dot("a.embedding", "b.embedding")
    na = f"sqrt({_dot('a.embedding', 'a.embedding')})"
    nb = f"sqrt({_dot('b.embedding', 'b.embedding')})"
    cos = f"round({dot} / ({na} * {nb}), 4)"
    return f"""
WITH bk AS (SELECT vec_id, bucket FROM ({bucket}) t),
capped AS (
  SELECT vec_id, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk
    FROM bk) t
  WHERE rk <= {D.EMB_BUCKET_CAP}),
e AS (SELECT e0.vec_id, e0.embedding, c.bucket FROM embeddings e0 JOIN capped c USING (vec_id))
SELECT a.vec_id AS a_vec, b.vec_id AS b_vec, {cos} AS cos
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= {tau}"""


def q_embed_topk(k: int = 10) -> str:
    """Top-k by cosine.  The ordering ``cos DESC, vec_id`` is TOTAL (vec_id
    unique), so ``ORDER BY ... LIMIT k`` is deterministic in both engines —
    the same tie-break the Spark side uses (operators/dataprep.py:embed_topk)."""
    dot = _dot("e.embedding", "q.qv")
    na = f"sqrt({_dot('e.embedding', 'e.embedding')})"
    nq = f"sqrt({_dot('q.qv', 'q.qv')})"
    return f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT e.vec_id, e.label, round({dot} / ({na} * {nq}), 4) AS cos
FROM embeddings e, q
ORDER BY cos DESC, e.vec_id LIMIT {k}"""


def q_embed_ivf_topk(k: int = 10) -> str:
    """IVF-probed top-k: rank centroids by query distance (tie-break cid —
    matches the Spark side's stable sort), probe the best IVF_PROBE inverted
    lists, exact cosine within, total-order LIMIT k."""
    assign = q_embed_ivf_assign().strip()
    qd_sq = "(CAST(q.qv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))"
    dot = _dot("e.embedding", "q.qv")
    na = f"sqrt({_dot('e.embedding', 'e.embedding')})"
    nq = f"sqrt({_dot('q.qv', 'q.qv')})"
    return f"""
WITH assign AS ({assign}),
c AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {D.IVF_K}) t),
q AS (
  SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
probe AS (
  SELECT c.cid FROM c, q
  ORDER BY list_sum(list_transform(range(1, {D.EMB_DIM} + 1), i -> {qd_sq} * {qd_sq})), c.cid
  LIMIT {D.IVF_PROBE})
SELECT e.vec_id, e.label, a.cluster, round({dot} / ({na} * {nq}), 4) AS cos
FROM embeddings e
JOIN assign a ON a.vec_id = e.vec_id
JOIN probe p ON p.cid = a.cluster
CROSS JOIN q
ORDER BY cos DESC, e.vec_id LIMIT {k}"""


def _banded_buckets_sql() -> str:
    """CTE chain ending in ``bk(vec_id, band, bucket)`` — literal plane
    weights generated by the SAME Python (dataprep.banded_planes)."""
    planes = D.banded_planes()
    rows = ", ".join(
        f"({j // D.EMB_BAND_PLANES}, {j % D.EMB_BAND_PLANES}, {planes[j]})"
        for j in range(len(planes))
    )
    dot = (
        f"list_sum(list_transform(range(1, {D.EMB_DIM} + 1), "
        f"i -> CAST(e.embedding[i] AS DOUBLE) * (p.w)[i]))"
    )
    return f"""
planes AS (SELECT * FROM (VALUES {rows}) AS t(band, j, w)),
bits AS (
  SELECT e.vec_id, p.band, p.j,
    CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END AS bit
  FROM embeddings e, planes p),
bk AS (
  SELECT vec_id, band, CAST(sum(bit * (CAST(1 AS BIGINT) << j)) AS INT) AS bucket
  FROM bits GROUP BY vec_id, band)"""


def q_embed_band_stats() -> str:
    return f"""
WITH {_banded_buckets_sql().strip()},
sizes AS (
  SELECT band, bucket, count(*) AS sz FROM bk GROUP BY band, bucket)
SELECT band, count(*) AS n_buckets, max(sz) AS max_bucket,
  CAST(sum(greatest(sz - {D.EMB_BUCKET_CAP}, 0)) AS BIGINT) AS n_overflow
FROM sizes GROUP BY band"""


def q_embed_banded_pairs(tau: float = 0.3) -> str:
    dot = _dot("ea.embedding", "eb.embedding")
    na = f"sqrt({_dot('ea.embedding', 'ea.embedding')})"
    nb = f"sqrt({_dot('eb.embedding', 'eb.embedding')})"
    cos = f"round({dot} / ({na} * {nb}), 4)"
    return f"""
WITH {_banded_buckets_sql().strip()},
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rk
    FROM bk) t
  WHERE rk <= {D.EMB_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.vec_id AS a_vec, b.vec_id AS b_vec
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT a_vec, b_vec, {cos} AS cos
FROM cand
JOIN embeddings ea ON ea.vec_id = a_vec
JOIN embeddings eb ON eb.vec_id = b_vec
WHERE {cos} >= {tau}"""


def q_embed_ivf_assign() -> str:
    sq = "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))"
    return f"""
WITH c AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {D.IVF_K}) t),
d AS (
  SELECT e.vec_id, e.label, c.cid,
    list_sum(list_transform(range(1, {D.EMB_DIM} + 1), i -> {sq} * {sq})) AS dist
  FROM embeddings e, c),
r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)
SELECT vec_id, label, cid AS cluster FROM r WHERE rn = 1"""


def _lloyd_ctes(k: int, n_iter: int) -> str:
    """Unrolled deterministic Lloyd iterations, mirroring
    operators/dataprep.py::lloyd_centroids: c0 = first k vectors by vec_id;
    per iteration assignment (argmin squared distance, tie -> lowest cid,
    identical left-to-right float accumulation order on both engines) then
    per-(cluster, dim) means ROUNDED to 4 decimals (so cross-engine float-sum
    ordering noise cannot flip a later assignment); empty clusters keep the
    previous centroid.  Ends at CTE ``c{n_iter}(cid, cv)``."""
    dim = D.EMB_DIM
    diff = "(CAST(e.embedding[i] AS DOUBLE) - (c.cv)[i])"
    dist = f"list_sum(list_transform(range(1, {dim} + 1), i -> {diff} * {diff}))"
    ctes = [
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k}) t)"""
    ]
    for t in range(1, n_iter + 1):
        ctes.append(
            f"""a{t} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cluster,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM embeddings e, c{t - 1} c) s WHERE rn = 1)"""
        )
        ctes.append(
            f"""m{t} AS (
  SELECT cluster, i, round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 4) AS v
  FROM a{t}, range(1, {dim} + 1) r(i) GROUP BY cluster, i)"""
        )
        ctes.append(
            f"""c{t} AS (
  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
  FROM c{t - 1} p LEFT JOIN (
    SELECT cluster AS cid, list(v ORDER BY i) AS cv FROM m{t} GROUP BY cluster) n
  USING (cid))"""
        )
    return ",\n".join(ctes)


def q_embed_ivf_kmeans_topk(k: int = 10) -> str:
    """End-to-end mirror of embed_ivf_kmeans_topk: the ENTIRE
    iterative k-means fit is unrolled as SQL (see _lloyd_ctes), then the
    final assignment, centroid probe (query-to-centroid distance in the same
    accumulation order as the Spark driver's Python sum), and total-order
    top-k — zero rows-only checks left."""
    dim, K, N = D.EMB_DIM, D.IVF_K, D.IVF_LLOYD_ITERS
    cn = f"c{N}"
    diff = "(CAST(e.embedding[i] AS DOUBLE) - (c.cv)[i])"
    dist = f"list_sum(list_transform(range(1, {dim} + 1), i -> {diff} * {diff}))"
    qdiff = "(CAST(q.qv[i] AS DOUBLE) - (c.cv)[i])"
    qdist = f"list_sum(list_transform(range(1, {dim} + 1), i -> {qdiff} * {qdiff}))"
    dot = _dot("e.embedding", "q.qv")
    na = f"sqrt({_dot('e.embedding', 'e.embedding')})"
    nq = f"sqrt({_dot('q.qv', 'q.qv')})"
    return f"""
WITH {_lloyd_ctes(K, N)},
assign AS (
  SELECT vec_id, label, cluster FROM (
    SELECT e.vec_id, e.label, c.cid AS cluster,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM embeddings e, {cn} c) s WHERE rn = 1),
q AS (
  SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
probe AS (
  SELECT c.cid FROM {cn} c, q
  ORDER BY {qdist}, c.cid
  LIMIT {D.IVF_PROBE})
SELECT e.vec_id, e.label, a.cluster, round({dot} / ({na} * {nq}), 4) AS cos
FROM embeddings e
JOIN assign a ON a.vec_id = e.vec_id
JOIN probe p ON p.cid = a.cluster
CROSS JOIN q
ORDER BY cos DESC, e.vec_id LIMIT {k}"""


def q_media_geometry() -> str:
    """Mirror of operators/multimodal.py::media_geometry: EXPECTED geometry
    and strata-mean features recomputed from the doc_id arithmetic the
    container synthesizer uses (_make_bmp/_make_wav/_make_mp4) — the Spark
    side gets them by genuinely parsing the BMP/WAV/MP4 bytes, so equality
    proves the codecs round-trip.  Rounding: round_even = Python round
    (half-even); the x10000 BIGINT quantization makes the CSV format-proof."""
    # image: 24-bit BMP — pixel byte p of the data section (rows padded to 4)
    px = (
        "(CASE WHEN (p % row_len) < (width * 3) "
        "THEN (seed * 31 + (p // row_len) * 131 + (p % row_len)) % 256 "
        "ELSE 0 END)"
    )
    fq_img = (
        "list_transform(range(0, 8), k -> CAST(round(round_even("
        f"CAST(list_sum(list_transform(range(k * n_i, (k + 1) * n_i), p -> {px})) AS DOUBLE)"
        " / (255.0 * n_i), 4) * 10000, 0) AS BIGINT))"
    )
    # audio: mono 16-bit PCM — sample i, per-stratum RMS
    v = "(((seed * 13 + i * 40503) % 65536) - 32768)"
    fq_wav = (
        "list_transform(range(0, 8), k -> CAST(round(round_even("
        f"sqrt(CAST(list_sum(list_transform(range(k * n_w, (k + 1) * n_w), i -> {v} * {v})) AS DOUBLE)"
        " / n_w) / 32768.0, 4) * 10000, 0) AS BIGINT))"
    )
    # video: mdat payload byte i, per-stratum means
    mb = "((seed * 37 + i * 101) % 256)"
    fq_mp4 = (
        "list_transform(range(0, 8), k -> CAST(round(round_even("
        f"CAST(list_sum(list_transform(range(k * n_m, (k + 1) * n_m), i -> {mb})) AS DOUBLE)"
        " / (255.0 * n_m), 4) * 10000, 0) AS BIGINT))"
    )
    return f"""
WITH base AS (
  SELECT doc_id AS seed, 'm' || CAST(doc_id AS VARCHAR) AS media_id,
    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         ELSE 'video' END AS kind
  FROM documents),
geom AS (
  SELECT seed, media_id, kind,
    CASE kind WHEN 'image' THEN 8 + seed % 24
              WHEN 'audio' THEN 8000
              ELSE 16 * (2 + seed % 15) END AS width,
    CASE kind WHEN 'image' THEN 8 + (seed // 7) % 24
              WHEN 'audio' THEN 1
              ELSE 16 * (2 + (seed // 5) % 15) END AS height,
    CASE kind WHEN 'image' THEN 1
              WHEN 'audio' THEN 64 + seed % 256
              ELSE 16 + seed % 48 END AS n_frames
  FROM base),
dims AS (
  SELECT *, ((width * 3 + 3) // 4) * 4 AS row_len,
    greatest((height * ((width * 3 + 3) // 4) * 4) // 8, 1) AS n_i,
    greatest(n_frames // 8, 1) AS n_w,
    greatest((16 * n_frames) // 8, 1) AS n_m
  FROM geom)
SELECT media_id, kind, width, height, n_frames,
  array_to_string(
    CASE kind WHEN 'image' THEN {fq_img}
              WHEN 'audio' THEN {fq_wav}
              ELSE {fq_mp4} END, ',') AS feature_q_csv
FROM dims"""


def q_repetition_stats() -> str:
    """Mirror of dataprep.repetition_stats (intra-doc gram repetition +
    top-gram share) over the NON-distinct gram hashes."""
    return f"""
WITH h AS ({_shingle_hashes_sql('doc_id', distinct=False)}),
st AS (
  SELECT doc_id, len(hs) AS n_grams, len(list_distinct(hs)) AS n_distinct
  FROM h),
ex AS (SELECT doc_id, g FROM h, UNNEST(hs) AS t(g)),
top AS (
  SELECT doc_id, max(cnt) AS top_gram_n
  FROM (SELECT doc_id, g, count(*) AS cnt FROM ex GROUP BY doc_id, g) c
  GROUP BY doc_id)
SELECT st.doc_id, st.n_grams, st.n_distinct,
  round((st.n_grams - st.n_distinct) * 1.0 / st.n_grams, 4) AS intra_dup_rate,
  top.top_gram_n,
  round(top.top_gram_n * 1.0 / st.n_grams, 4) AS top_gram_share
FROM st JOIN top USING (doc_id)"""


def q_benchmark_contamination() -> str:
    """Mirror of dataprep.benchmark_contamination: distinct-gram overlap of
    every non-benchmark doc against the 1-in-BENCH_DOC_MOD benchmark
    sample's gram set."""
    return f"""
WITH h AS ({_shingle_hashes_sql('doc_id')}),
g AS (SELECT doc_id, g FROM h, UNNEST(hs) AS t(g)),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % {D.BENCH_DOC_MOD} = 0),
tot AS (
  SELECT doc_id, len(hs) AS n_distinct FROM h
  WHERE doc_id % {D.BENCH_DOC_MOD} != 0),
cont AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM g WHERE doc_id % {D.BENCH_DOC_MOD} != 0
    AND g IN (SELECT g FROM bench)
  GROUP BY doc_id)
SELECT tot.doc_id, tot.n_distinct,
  coalesce(cont.n_contaminated, 0) AS n_contaminated,
  round(coalesce(cont.n_contaminated, 0) * 1.0 / tot.n_distinct, 4)
    AS contamination_rate
FROM tot LEFT JOIN cont USING (doc_id)"""


def q_corpus_curation_mm() -> str:
    """Mirror of dataprep.corpus_curation_mm: text keep ∧ media geometry
    floor ∧ media exact-fingerprint rep, over the media_geometry twin."""
    return f"""
WITH cc AS ({q_corpus_curation().strip()}),
mg AS ({q_media_geometry().strip()}),
m2 AS (
  SELECT CAST(substr(media_id, 2) AS BIGINT) AS doc_id, kind, width, height,
         n_frames, feature_q_csv,
    CASE kind WHEN 'image' THEN width * height >= {D.MEDIA_MIN_IMAGE_AREA}
              WHEN 'audio' THEN n_frames >= {D.MEDIA_MIN_AUDIO_FRAMES}
              ELSE n_frames >= {D.MEDIA_MIN_VIDEO_FRAMES} END AS mok
  FROM mg),
rep AS (
  SELECT *, min(doc_id) OVER (
    PARTITION BY kind, width, height, n_frames, feature_q_csv) AS rep_doc
  FROM m2)
SELECT cc.doc_id, cc.keep, rep.kind,
  CAST(rep.mok AS INT) AS media_ok,
  CAST(rep.doc_id = rep.rep_doc AS INT) AS is_media_rep,
  CAST(cc.keep = 1 AND rep.mok AND rep.doc_id = rep.rep_doc AS INT) AS keep_mm
FROM cc JOIN rep ON rep.doc_id = cc.doc_id"""


def q_curated_chunks() -> str:
    """Mirror of dataprep.curated_chunks: chunks of sequences whose linked
    document (sequence id mod |documents|) passed corpus_curation_mm."""
    from go_fluentd_spark import oracle

    return f"""
WITH ccmm AS ({q_corpus_curation_mm().strip()}),
ch AS ({oracle.q_sequence_chunks().strip()}),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT ch.doc_id, ch.chunk_id, ch.n_chunk_tok, ch.tokens_csv,
  CAST(split_part(ch.doc_id, '-', 3) AS BIGINT) % n.n_docs AS link_doc
FROM ch, n
WHERE CAST(split_part(ch.doc_id, '-', 3) AS BIGINT) % n.n_docs IN
      (SELECT doc_id FROM ccmm WHERE keep_mm = 1)"""


def q_embed_topk_methods(k: int = 10) -> str:
    """Brute + IVF top-k union (the Spark twin is embed_topk_methods); each
    side's CTEs stay scoped in its own subquery."""
    return f"""
SELECT 'brute' AS method, vec_id, label, cos FROM ({q_embed_topk(k).strip()})
UNION ALL
SELECT 'ivf' AS method, vec_id, label, cos FROM ({q_embed_ivf_topk(k).strip()})"""


def q_lsh_band_stats() -> str:
    """Both band-hygiene audits as one engine-keyed table (the Spark twin
    unions minhash_band_stats + embed_band_stats); each side's CTE chain
    stays scoped inside its own subquery so the names never collide."""
    return f"""
SELECT 'minhash' AS engine, band, n_buckets, max_bucket, n_overflow
FROM ({q_minhash_band_stats().strip()})
UNION ALL
SELECT 'embed' AS engine, band, n_buckets, max_bucket, n_overflow
FROM ({q_embed_band_stats().strip()})"""


ORACLES = {
    "media_geometry": q_media_geometry,
    "corpus_curation_mm": q_corpus_curation_mm,
    "curated_chunks": q_curated_chunks,
    "repetition_stats": q_repetition_stats,
    "benchmark_contamination": q_benchmark_contamination,
    "embed_ivf_assign": q_embed_ivf_assign,
    "embed_ivf_kmeans_topk": q_embed_ivf_kmeans_topk,
    "embed_near_pairs": q_embed_near_pairs,
    "dedup_exact": q_dedup_exact,
    "fingerprints": q_fingerprints,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "langid": q_langid,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    # minhash_band_stats + embed_band_stats consolidated into ONE registry
    # entry (lsh_band_stats) so all queries fit the driver's capture window;
    # the per-engine oracles remain for tests/targeted verification
    "lsh_band_stats": q_lsh_band_stats,
    "dedup_clusters": q_dedup_clusters,
    "pii_scrub": q_pii_scrub,
    "corpus_curation": q_corpus_curation,
    "embed_dedup_clusters": q_embed_dedup_clusters,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "simhash16": q_simhash16,
    "embed_cosine_scores": q_embed_cosine_scores,
    "embed_lsh_buckets": q_embed_lsh_buckets,
    # embed_topk + embed_ivf_topk consolidated into one method-keyed entry
    # (round 5 — frees a capture slot for substr_dup_spans); the per-method
    # oracles remain for tests/targeted verification
    "embed_topk_methods": q_embed_topk_methods,
    "embed_banded_pairs": q_embed_banded_pairs,
    "winnow_fingerprints": q_winnow_fingerprints,
}
