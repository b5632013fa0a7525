"""Single-process golden oracle for the non-SQL-expressible document/
embedding operators (SimHash, MinHash+LSH, hyperplane-LSH ANN).

Same stance as oracle.py for the KG pipeline: a pure-Python sequential
implementation of the SAME deterministic algorithms (hashes via the
pure-Python XXH64 in functions/xxh64.py, which is unit-tested to agree
bit-for-bit with Spark's ``F.xxhash64``), producing golden parquet that the
DuckDB oracle reads with ``read_parquet`` — turning the round-1 ``no_oracle``
rows into real differential checks of the distributed plans.

Float semantics: Python floats are IEEE doubles like the JVM's, and every
fold here replicates the exact evaluation order of the corresponding column
expression (``F.aggregate`` folds left-to-right), so cosines/projections
agree bit-for-bit; rounding uses HALF_UP via decimal to match ``F.round``.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq

from graphrag_litex_spark.functions.xxh64 import (
    xxhash64_int,
    xxhash64_long,
    xxhash64_str,
    xxhash64_str_int,
)

_NORM_PUNCT = re.compile(r"[^a-z0-9 ]+")
_NORM_WS = re.compile(r"\s+")


def norm_text(text: str) -> str:
    """Python equivalent of operators.dedup.norm_text_col."""
    return _NORM_WS.sub(" ", _NORM_PUNCT.sub(" ", (text or "").lower())).strip()


def round_half_up(x: float, digits: int = 6) -> float:
    """F.round semantics: BigDecimal HALF_UP on the double's exact value."""
    return float(Decimal(x).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


# ---- simhash (operators/dedup.py simhash_signatures/simhash_duplicates) ----


_tok_hash_memo: dict[str, int] = {}


def simhash_signature(text: str, bits: int = 32) -> int:
    toks = norm_text(text).split(" ")  # norm=='' -> [''] like F.split
    n = len(toks)
    counts = [0] * bits
    for t in toks:
        h = _tok_hash_memo.get(t)
        if h is None:
            h = _tok_hash_memo[t] = xxhash64_str(t) & 0xFFFFFFFFFFFFFFFF
        for i in range(bits):
            counts[i] += (h >> i) & 1
    sig = 0
    for i in range(bits):
        if counts[i] * 2 > n:
            sig |= 1 << i
    return sig


def simhash_duplicates_golden(doc_ids: list, texts: list, bits: int = 32) -> pa.Table:
    groups: dict[int, list] = {}
    for d, t in zip(doc_ids, texts):
        groups.setdefault(simhash_signature(t, bits), []).append(d)
    rows = [(s, len(ids), min(ids)) for s, ids in groups.items() if len(ids) > 1]
    rows.sort()
    return pa.table(
        {
            "simhash": pa.array([r[0] for r in rows], pa.int64()),
            "n_docs": pa.array([r[1] for r in rows], pa.int64()),
            "representative_id": pa.array([r[2] for r in rows]),
        }
    )


# ---- minhash + LSH (operators/dedup.py minhash_lsh_candidates) ----


def word_shingle_set(text: str, k: int = 3) -> set[str]:
    """Python equivalent of shingle_rows: distinct k-word shingles; docs
    shorter than k tokens contribute the whole normalized text."""
    norm = norm_text(text)
    toks = norm.split(" ")
    if len(toks) < k:
        return {norm}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def minhash_lsh_golden(
    doc_ids: list,
    texts: list,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
) -> pa.Table:
    rows_per_band = num_hashes // bands
    shingles: dict = {}
    sigs: dict = {}
    buckets: dict[tuple, list] = {}
    for d, t in zip(doc_ids, texts):
        sh = word_shingle_set(t, shingle_k)
        shingles[d] = sh
        sig = [min(xxhash64_str_int(s, i) for s in sh) for i in range(num_hashes)]
        sigs[d] = sig
        for b in range(bands):
            key = ",".join(
                str(sig[b * rows_per_band + r]) for r in range(rows_per_band)
            )
            buckets.setdefault((b, xxhash64_str(key)), []).append(d)
    cand: set[tuple] = set()
    for members in buckets.values():
        members = sorted(set(members))
        for i, a in enumerate(members):
            for b_ in members[i + 1 :]:
                cand.add((a, b_) if a < b_ else (b_, a))
    out = []
    for a, b_ in cand:
        inter = len(shingles[a] & shingles[b_])
        union = len(shingles[a] | shingles[b_])
        j = 1.0 if union == 0 else inter / union
        if j >= jaccard_threshold:
            out.append((a, b_, round_half_up(j, 6)))
    out.sort()
    return pa.table(
        {
            "id_a": pa.array([r[0] for r in out]),
            "id_b": pa.array([r[1] for r in out]),
            "jaccard": pa.array([r[2] for r in out], pa.float64()),
        }
    )


# ---- hyperplane-LSH ANN (operators/similarity.py lsh_bucketed_topk) ----


def _dot_fold(vec: list[float], signs: list[float]) -> float:
    """Left fold, exact order of F.aggregate(zip_with(...))."""
    acc = 0.0
    for x, s in zip(vec, signs):
        acc = acc + x * s
    return acc


_signs_memo: dict[tuple[int, int], list[list[float]]] = {}


def _plane_signs(dim: int, planes: int) -> list[list[float]]:
    key = (dim, planes)
    tbl = _signs_memo.get(key)
    if tbl is None:
        tbl = _signs_memo[key] = [
            [1.0 if xxhash64_int(p * 10_007 + j) % 2 == 0 else -1.0 for j in range(dim)]
            for p in range(planes)
        ]
    return tbl


def hyperplane_sig(vec: list[float], dim: int, planes: int) -> int:
    sig = 0
    vd = [float(v) for v in vec]
    for p, signs in enumerate(_plane_signs(dim, planes)):
        if _dot_fold(vd, signs) > 0:
            sig += 2**p
    return sig


def _cosine_fold(a: list[float], b: list[float]) -> float:
    na = 0.0
    for v in a:
        na = na + v * v
    nb = 0.0
    for v in b:
        nb = nb + v * v
    denom = na**0.5 * nb**0.5
    if denom == 0:
        return 0.0
    return _dot_fold(a, b) / denom


def ann_lsh_topk_golden(
    vec_ids: list,
    vecs: list,
    query_vec: list[float],
    k: int = 10,
    planes: int = 4,
    probe_bits: int = 1,
) -> pa.Table:
    dim = len(query_vec)
    q = [float(v) for v in query_vec]
    qsig = hyperplane_sig(q, dim, planes)
    # multi-probe: the query's bucket plus the FULL Hamming ball of radius
    # probe_bits (independent implementation of the operator's expansion)
    from itertools import combinations

    probe = {qsig}
    for d in range(1, min(probe_bits, planes) + 1):
        for bits in combinations(range(planes), d):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probe.add(qsig ^ flip)
    scored = []
    for vid, v in zip(vec_ids, vecs):
        vd = [float(x) for x in v]
        if hyperplane_sig(vd, dim, planes) in probe:
            scored.append((vid, round_half_up(_cosine_fold(vd, q), 6)))
    scored.sort(key=lambda r: (-r[1], r[0]))
    scored = scored[:k]
    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in scored]),
            "cosine": pa.array([r[1] for r in scored], pa.float64()),
        }
    )


# ---- winnowing fingerprints (text_analysis.winnow_fingerprints) ----


def winnow_fingerprint_set(text: str, k: int = 5, window: int = 4) -> set[int]:
    """Sequential replica of the relational winnowing plan: same
    normalization, same per-k-gram xxhash64, same full-window minima."""
    norm = norm_text(text)
    if norm == "":
        return set()
    n_pos = max(len(norm) - k + 1, 1)
    hashes = [xxhash64_str(norm[i : i + k]) for i in range(n_pos)]
    n_win = max(n_pos - window + 1, 1)
    return {min(hashes[i : i + window]) for i in range(n_win)}


def winnow_fps_golden(doc_ids: list, texts: list, k: int = 5, window: int = 4) -> pa.Table:
    """-> raw (doc_id, fp) rows, one per distinct fingerprint (the exact
    output shape of operators/text_analysis.winnow_fingerprints)."""
    ids, fps = [], []
    for d, t in zip(doc_ids, texts):
        for fp in sorted(winnow_fingerprint_set(t, k, window)):
            ids.append(d)
            fps.append(fp)
    return pa.table({"doc_id": pa.array(ids), "fp": pa.array(fps, pa.int64())})


def winnow_golden(doc_ids: list, texts: list, k: int = 5, window: int = 4) -> pa.Table:
    """-> per-doc (doc_id, n_fps, min_fp) summary of the fingerprint set."""
    rows = []
    for d, t in zip(doc_ids, texts):
        fps = winnow_fingerprint_set(t, k, window)
        if fps:
            rows.append((d, len(fps), min(fps)))
    rows.sort()
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows]),
            "n_fps": pa.array([r[1] for r in rows], pa.int64()),
            "min_fp": pa.array([r[2] for r in rows], pa.int64()),
        }
    )


# ---- IVF ANN (operators/similarity.py ivf_centroids/ivf_assign/ivf_topk) --


def ann_ivf_topk_golden(
    vec_ids: list,
    vecs: list,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> pa.Table:
    """Sequential replica of the IVF path: seeds = smallest
    (xxhash64(long id), id); assignment = argmax cosine (ties to larger
    cid, matching array_max's lexicographic struct compare); probes = top
    ``nprobe`` centroids by (cosine desc, cid asc); exact top-k within."""
    order = sorted(zip(vec_ids, vecs), key=lambda r: (xxhash64_long(int(r[0])), r[0]))
    cents = [[float(x) for x in v] for _, v in order[:n_centroids]]
    q = [float(v) for v in query_vec]
    probes = set(
        sorted(range(len(cents)), key=lambda c: (-_cosine_fold(cents[c], q), c))[:nprobe]
    )
    scored = []
    for vid, v in zip(vec_ids, vecs):
        vd = [float(x) for x in v]
        cid = max(range(len(cents)), key=lambda c: (_cosine_fold(vd, cents[c]), c))
        if cid in probes:
            scored.append((vid, round_half_up(_cosine_fold(vd, q), 6)))
    scored.sort(key=lambda r: (-r[1], r[0]))
    scored = scored[:k]
    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in scored]),
            "cosine": pa.array([r[1] for r in scored], pa.float64()),
        }
    )


def semantic_dedup_golden(
    vec_ids: list,
    vecs: list,
    n_clusters: int = 8,
    threshold: float = 0.95,
) -> pa.Table:
    """Sequential replica of operators/dedup.semantic_dedup: IVF seeds =
    smallest (xxhash64(long id), id); assignment = argmax cosine (ties to
    larger cid, array_max struct compare); in-cluster rank ascending by
    (cosine-to-centroid, id); a doc's max_dup_cos = max cosine to any
    earlier-ranked cluster-mate; kept iff that max is absent or below the
    threshold (raw-double compare, rounding only at output)."""
    order = sorted(zip(vec_ids, vecs), key=lambda r: (xxhash64_long(int(r[0])), r[0]))
    cents = [[float(x) for x in v] for _, v in order[:n_clusters]]
    by_cluster: dict[int, list] = {}
    for vid, v in zip(vec_ids, vecs):
        vd = [float(x) for x in v]
        cid = max(range(len(cents)), key=lambda c: (_cosine_fold(vd, cents[c]), c))
        by_cluster.setdefault(cid, []).append((vid, _cosine_fold(vd, cents[cid]), vd))
    rows = []
    for cid, members in by_cluster.items():
        members.sort(key=lambda m: (m[1], m[0]))
        for i, (vid, cent_cos, vd) in enumerate(members):
            max_dup = None
            for j in range(i):
                c = _cosine_fold(members[j][2], vd)
                if max_dup is None or c > max_dup:
                    max_dup = c
            rows.append(
                (
                    vid,
                    cid,
                    round_half_up(cent_cos, 6),
                    None if max_dup is None else round_half_up(max_dup, 6),
                    max_dup is None or max_dup < threshold,
                )
            )
    rows.sort()
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows]),
            "cluster_id": pa.array([r[1] for r in rows], pa.int32()),
            "cent_cos": pa.array([r[2] for r in rows], pa.float64()),
            "max_dup_cos": pa.array([r[3] for r in rows], pa.float64()),
            "kept": pa.array([r[4] for r in rows], pa.bool_()),
        }
    )


def _l2sq_fold(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def ann_pq_topk_golden(
    vec_ids: list,
    vecs: list,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
) -> pa.Table:
    """Sequential replica of the PQ path (similarity.pq_codebooks/
    pq_encode/pq_adc_topk): codebook seeds = smallest (xxhash64(long id),
    id) rows sliced into m subspaces; encode = per-subspace argmin L2
    (ties to larger centroid id); ADC = left-to-right sum of m lookups in
    the query's distance table; top-k by (rounded adist asc, id asc)."""
    order = sorted(zip(vec_ids, vecs), key=lambda r: (xxhash64_long(int(r[0])), r[0]))
    seeds = [[float(x) for x in v] for _, v in order[:ksub]]
    dim = len(seeds[0])
    d = dim // m
    books = [[s[j * d : (j + 1) * d] for s in seeds] for j in range(m)]
    q = [float(x) for x in query_vec]
    table = [
        [_l2sq_fold(q[j * d : (j + 1) * d], cent) for cent in books[j]] for j in range(m)
    ]
    scored = []
    for vid, v in zip(vec_ids, vecs):
        vd = [float(x) for x in v]
        adist = 0.0
        for j in range(m):
            sub = vd[j * d : (j + 1) * d]
            cid = max(range(ksub), key=lambda c: (-_l2sq_fold(sub, books[j][c]), c))
            adist = adist + table[j][cid]
        scored.append((vid, round_half_up(adist, 6)))
    scored.sort(key=lambda r: (r[1], r[0]))
    scored = scored[:k]
    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in scored]),
            "adist": pa.array([r[1] for r in scored], pa.float64()),
        }
    )


# ---- hashed-ngram quality classifier (text_analysis.quality_classifier_scores) ----


def quality_classifier_golden(
    doc_ids: list,
    texts: list,
    n_buckets: int = 4096,
    scale: int = 1000,
    bias: int = 0,
    cutoff: float = 0.0,
) -> pa.Table:
    """Sequential replica of the fastText-style inference plan: normalized
    unigram+bigram features, bucket = pmod(xxhash64(feature), n_buckets)
    (Python % IS pmod for positive modulus), weight = the deterministic
    stand-in table's pmod(xxhash64(long bucket), 2*scale+1) - scale;
    logit = exactly-rounded integer ratio; keep compares the raw double."""
    wmemo: dict[int, int] = {}

    def weight(bucket: int) -> int:
        w = wmemo.get(bucket)
        if w is None:
            w = wmemo[bucket] = xxhash64_long(bucket) % (2 * scale + 1) - scale
        return w

    rows = []
    for d, t in zip(doc_ids, texts):
        toks = norm_text(t).split(" ")  # norm=='' -> [''] like F.split
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        logit_sum = bias
        for f in feats:
            logit_sum += weight(xxhash64_str(f) % n_buckets)
        n_feats = len(feats)
        rows.append(
            (
                d,
                n_feats,
                logit_sum,
                round_half_up(logit_sum / n_feats, 6),
                logit_sum / n_feats >= cutoff,
            )
        )
    rows.sort()
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows]),
            "n_feats": pa.array([r[1] for r in rows], pa.int64()),
            "logit_sum": pa.array([r[2] for r in rows], pa.int64()),
            "logit": pa.array([r[3] for r in rows], pa.float64()),
            "keep": pa.array([r[4] for r in rows], pa.bool_()),
        }
    )


# ---- VectorRAG baseline top-k (jobs/vector_rag_baseline.py) ----


def vector_rag_topk_golden(
    doc_ids: list,
    texts: list,
    question: str,
    k: int = 5,
    chunk_size: int = 20,
    overlap: int = 5,
    dim: int = 64,
) -> pa.Table:
    """Chunk -> hash-embed -> cosine top-k, sequentially (the reference's
    vector_rag.py:17-40 loop); differential against the Spark job's
    chunking UDF + embed UDF + TakeOrderedAndProject plan."""
    from graphrag_litex_spark.functions.normalize import hash_embed
    from graphrag_litex_spark.operators.chunking import chunk_windows

    qv = hash_embed(question, dim)
    scored = []
    for d, t in zip(doc_ids, texts):
        for n, chunk in enumerate(chunk_windows(t, chunk_size, overlap)):
            scored.append(
                (f"{d}_{n}", round_half_up(_cosine_fold(hash_embed(chunk, dim), qv), 6))
            )
    scored.sort(key=lambda r: (-r[1], r[0]))
    scored = scored[:k]
    return pa.table(
        {
            "chunk_id": pa.array([r[0] for r in scored]),
            "cosine": pa.array([r[1] for r in scored], pa.float64()),
        }
    )


# ---- driver: compute goldens for a testdata sf dir (cached on disk) ----

def keeper_map_golden(doc_ids: list, pair_table: pa.Table) -> pa.Table:
    """(doc_id, keeper_id, is_keeper) for every doc: union-find over the
    near-dup pairs; keeper = natural min of the component (mirrors
    operators/dedup.duplicate_keeper_map)."""
    parent: dict = {d: d for d in doc_ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(
        pair_table.column("id_a").to_pylist(), pair_table.column("id_b").to_pylist()
    ):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    keeper: dict = {}
    for d in doc_ids:
        r = find(d)
        if r not in keeper or d < keeper[r]:
            keeper[r] = d
    rows = sorted((d, keeper[find(d)]) for d in doc_ids)
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows]),
            "keeper_id": pa.array([r[1] for r in rows]),
            "is_keeper": pa.array([r[0] == r[1] for r in rows], pa.bool_()),
        }
    )


def incremental_dedup_golden(
    doc_ids: list,
    texts: list,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.5,
) -> pa.Table:
    """Bit-exact replica of operators/dedup.incremental_dedup_pairs with
    the index built over old docs (doc_id % 5 != 0) and the increment
    probed for docs where doc_id % 5 == 0: band buckets from xxhash64 of
    the signature slice, verification = MinHash estimator (fraction of
    equal signature lanes — exact multiples of 1/num_hashes, so rounding
    is trivially stable)."""
    rows_per_band = num_hashes // bands
    sigs: dict = {}
    for d, t in zip(doc_ids, texts):
        sh = word_shingle_set(t, shingle_k)
        sigs[d] = [min(xxhash64_str_int(s, i) for s in sh) for i in range(num_hashes)]

    def band_keys(d):
        return [
            (b, xxhash64_str(
                ",".join(str(sigs[d][b * rows_per_band + r]) for r in range(rows_per_band))
            ))
            for b in range(bands)
        ]

    old_ids = [d for d in doc_ids if d % 5 != 0]
    new_ids = [d for d in doc_ids if d % 5 == 0]
    buckets: dict[tuple, list] = {}
    for d in old_ids:
        for key in band_keys(d):
            buckets.setdefault(key, []).append(d)
    new_buckets: dict[tuple, list] = {}
    for d in new_ids:
        for key in band_keys(d):
            new_buckets.setdefault(key, []).append(d)
    cand: set[tuple] = set()
    for d in new_ids:
        for key in band_keys(d):
            for p in buckets.get(key, []):
                cand.add((min(d, p), max(d, p)))
            for p in new_buckets.get(key, []):
                if p != d:
                    cand.add((min(d, p), max(d, p)))
    out = []
    for a, b in sorted(cand):
        eq = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        est = eq / num_hashes
        if est >= est_threshold:
            out.append((a, b, round_half_up(est, 6)))
    return pa.table(
        {
            "id_a": pa.array([r[0] for r in out]),
            "id_b": pa.array([r[1] for r in out]),
            "est_jaccard": pa.array([r[2] for r in out], pa.float64()),
        }
    )


# Java default (non-UNICODE) \s plus \x1f — the window-hash separator is
# split away at tokenization so tokens can never contain it (span_dedup.SEP).
_SPAN_WS = re.compile(r"[ \t\n\x0b\f\r\x1f]+")


def _span_toks(text) -> list:
    """Python twin of span_dedup._tokenized: Java ``[\\s\\x1f]+`` split,
    empty fragments dropped (Java's ASCII whitespace class, NOT Python's
    unicode-aware ``\\s``)."""
    if text is None:
        return []
    return [t for t in _SPAN_WS.split(text) if t != ""]


def _span_occurrences(doc_ids: list, texts: list, k: int):
    """-> (toks_by_doc, occurrences [(h, doc_id, pos)]) — window hash is
    xxhash64 over the chr(31)-joined k-token slice, matching the fused
    Spark projection bit-for-bit."""
    toks_by = {}
    occ = []
    for d, t in zip(doc_ids, texts):
        toks = _span_toks(t)
        toks_by[d] = toks
        for pos in range(1, len(toks) - k + 2):
            occ.append((xxhash64_str("\x1f".join(toks[pos - 1 : pos - 1 + k])), d, pos))
    return toks_by, occ


def _merged_intervals(spans: list, adjacency: int) -> list:
    """Union of [s, e] intervals; ``adjacency``=1 also merges touching
    intervals (the removal sweep), 0 merges only true overlaps (coverage
    counting — identical totals either way)."""
    out = []
    for s, e in sorted(spans):
        if out and s <= out[-1][1] + adjacency:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def span_stats_golden(doc_ids: list, texts: list, k: int = 8) -> pa.Table:
    """Sequential twin of span_dedup.duplicate_span_stats."""
    from collections import Counter, defaultdict

    toks_by, occ = _span_occurrences(doc_ids, texts, k)
    counts = Counter(h for h, _, _ in occ)
    dup_spans = defaultdict(list)
    for h, d, pos in occ:
        if counts[h] > 1:
            dup_spans[d].append((pos, pos + k - 1))
    rows = []
    for d in doc_ids:
        n_tok = len(toks_by[d])
        spans = dup_spans.get(d, [])
        dup_tokens = sum(e - s + 1 for s, e in _merged_intervals(spans, 0))
        rows.append(
            (
                d,
                n_tok,
                max(n_tok - k + 1, 0),
                len(spans),
                dup_tokens,
                dup_tokens / n_tok if n_tok else 0.0,
            )
        )
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "n_tok": pa.array([r[1] for r in rows], pa.int64()),
            "n_windows": pa.array([r[2] for r in rows], pa.int64()),
            "n_dup_windows": pa.array([r[3] for r in rows], pa.int64()),
            "dup_tokens": pa.array([r[4] for r in rows], pa.int64()),
            "dup_token_frac": pa.array([r[5] for r in rows], pa.float64()),
        }
    )


def span_removal_golden(doc_ids: list, texts: list, k: int = 8) -> pa.Table:
    """Sequential twin of span_dedup.remove_duplicate_spans (no cap):
    keeper = global min (doc_id, pos) per repeated hash; non-keeper
    occurrences excised after adjacency-merging."""
    from collections import Counter, defaultdict

    toks_by, occ = _span_occurrences(doc_ids, texts, k)
    counts = Counter(h for h, _, _ in occ)
    keeper = {}
    for h, d, pos in occ:
        if counts[h] > 1 and (h not in keeper or (d, pos) < keeper[h]):
            keeper[h] = (d, pos)
    rm = defaultdict(list)
    for h, d, pos in occ:
        if counts[h] > 1 and keeper[h] != (d, pos):
            rm[d].append((pos, pos + k - 1))
    rows = []
    for d in doc_ids:
        toks = toks_by[d]
        kept = list(toks)
        for s, e in reversed(_merged_intervals(rm.get(d, []), 1)):
            del kept[s - 1 : e]
        rows.append((d, " ".join(kept), len(kept), len(toks) - len(kept)))
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "n_tok": pa.array([r[2] for r in rows], pa.int64()),
            "removed_tokens": pa.array([r[3] for r in rows], pa.int64()),
        }
    )


def ngram_repetition_golden(
    doc_ids: list, texts: list, top_ns=(2, 3, 4), dup_ns=(5, 10)
) -> pa.Table:
    """Sequential twin of scrub.ngram_repetition_stats: per document, the
    (top-n-gram, duplicate-n-gram) character fractions of the normalized
    text; NULL text -> NULL n_chars and 0.0 fractions."""
    from collections import Counter

    def fracs(norm: str, n: int) -> tuple[float, float]:
        toks = norm.split(" ") if norm else []
        counts = Counter(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
        # most frequent gram; ties go to the lexicographically smallest
        g, c = min(counts.items(), key=lambda gc: (-gc[1], gc[0]), default=("", 0))
        dup = sum((k - 1) * len(h) for h, k in counts.items())
        return tuple(round_half_up(x / len(norm)) if norm else 0.0 for x in (c * len(g), dup))

    norms = [norm_text(t) for t in texts]
    cols = {f"top{n}gram_char_frac": [fracs(s, n)[0] for s in norms] for n in top_ns}
    cols |= {f"dup{n}gram_char_frac": [fracs(s, n)[1] for s in norms] for n in dup_ns}
    return pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "n_chars": pa.array(
                [None if t is None else len(s) for t, s in zip(texts, norms)], pa.int64()
            ),
            **{k: pa.array(v, pa.float64()) for k, v in cols.items()},
        }
    )


def _dhash_py(img, hash_size: int = 8) -> int:
    """Sequential dHash twin of multimodal.image_dhash: luma -> the same
    integer-index nearest-neighbor downsample -> row-major gradient bits
    (signed int64). Pixel source is shared (fixture_image); the codec
    round-trip, resize, hashing, banding, and verify join are what this
    golden checks differentially."""
    h, w = img.shape[:2]
    # int() per channel: builtin sum over np.uint8 would wrap at 256 under
    # NEP-50 promotion; the exact integer sum then divides in float64 just
    # like numpy's mean(axis=2).
    luma = [[sum(int(v) for v in img[y][x]) / 3.0 for x in range(w)] for y in range(h)]
    yy = [(i * h) // hash_size for i in range(hash_size)]
    xx = [(j * w) // (hash_size + 1) for j in range(hash_size + 1)]
    acc = 0
    for y in yy:
        row = [luma[y][x] for x in xx]
        for c in range(hash_size):
            acc = (acc << 1) | (1 if row[c] > row[c + 1] else 0)
    return acc - (1 << 64) if acc >= 1 << 63 else acc


def image_dup_pairs_golden(doc_ids: list, max_hamming: int = 4) -> pa.Table:
    """Brute-force near-dup image pairs over the deterministic fixture
    renders — the SPECIFICATION the banded join must match exactly (the
    pigeonhole banding has zero false negatives, so banded == brute)."""
    from graphrag_litex_spark.operators.multimodal import fixture_image

    hashes = [(str(d), _dhash_py(fixture_image(int(d)))) for d in sorted(doc_ids)]
    mask = (1 << 64) - 1
    out = []
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            (ia, ha), (ib, hb) = hashes[i], hashes[j]
            d = bin((ha ^ hb) & mask).count("1")
            if d <= max_hamming:
                out.append((min(ia, ib), max(ia, ib), d))
    out.sort()
    return pa.table(
        {
            "id_a": pa.array([r[0] for r in out], pa.string()),
            "id_b": pa.array([r[1] for r in out], pa.string()),
            "hamming": pa.array([r[2] for r in out], pa.int32()),
        }
    )


def _audio_fp_py(samples_int16: list, n_windows: int = 65) -> int:
    """Sequential twin of multimodal.audio_fingerprint's bit math: integer
    int16² window energies (order-free by construction) -> gradient bits."""
    n = len(samples_int16)
    acc = 0
    prev = None
    for i in range(n_windows):
        w = samples_int16[(i * n) // n_windows : ((i + 1) * n) // n_windows]
        e = sum(int(v) * int(v) for v in w)
        if prev is not None:
            acc = (acc << 1) | (1 if prev > e else 0)
        prev = e
    return acc - (1 << 64) if acc >= 1 << 63 else acc


def audio_dup_pairs_golden(doc_ids: list, max_hamming: int = 6) -> pa.Table:
    """Brute-force audio near-dup pairs over the fixture signals, through
    the SAME WAV encode/decode round trip the Spark path takes (the codec
    is shared plumbing with its own round-trip units; the fingerprint math
    and the banded join are what this golden checks differentially)."""
    from graphrag_litex_spark.functions import media_codecs as mc
    from graphrag_litex_spark.operators.multimodal import fixture_audio

    fps = []
    for d in sorted(doc_ids):
        rate, samples = fixture_audio(int(d))
        _, rt = mc.decode_wav(mc.encode_wav(rate, samples))
        s16 = [int(round(v * 32768.0)) for v in rt]
        fps.append((str(d), _audio_fp_py(s16)))
    mask = (1 << 64) - 1
    out = []
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            (ia, ha), (ib, hb) = fps[i], fps[j]
            dd = bin((ha ^ hb) & mask).count("1")
            if dd <= max_hamming:
                out.append((min(ia, ib), max(ia, ib), dd))
    out.sort()
    return pa.table(
        {
            "id_a": pa.array([r[0] for r in out], pa.string()),
            "id_b": pa.array([r[1] for r in out], pa.string()),
            "hamming": pa.array([r[2] for r in out], pa.int32()),
        }
    )


def doc_clusters_golden(vec_ids: list, vecs: list, n_clusters: int = 8) -> pa.Table:
    """Sequential replica of the doc_clusters query: IVF seeds = smallest
    (xxhash64(long id), id); assignment = argmax cosine (ties to larger
    cid); per-cluster size, min member id, and mean of 6dp-rounded cosines
    carried as INTEGER micro-units so the mean is one exactly-rounded
    division in both engines."""
    order = sorted(zip(vec_ids, vecs), key=lambda r: (xxhash64_long(int(r[0])), r[0]))
    cents = [[float(x) for x in v] for _, v in order[:n_clusters]]
    agg: dict[int, list] = {}
    for vid, v in zip(vec_ids, vecs):
        vd = [float(x) for x in v]
        cid = max(range(len(cents)), key=lambda c: (_cosine_fold(vd, cents[c]), c))
        q = int(round(round_half_up(_cosine_fold(vd, cents[cid]), 6) * 1e6))
        cur = agg.setdefault(cid, [0, None, 0])
        cur[0] += 1
        cur[1] = vid if cur[1] is None else min(cur[1], vid)
        cur[2] += q
    rows = [
        (cid, n, mn, round_half_up(sq / n / 1e6, 6)) for cid, (n, mn, sq) in sorted(agg.items())
    ]
    return pa.table(
        {
            "cluster_id": pa.array([r[0] for r in rows], pa.int32()),
            "n_vecs": pa.array([r[1] for r in rows], pa.int64()),
            "min_vec_id": pa.array([r[2] for r in rows], pa.int64()),
            "mean_cos": pa.array([r[3] for r in rows], pa.float64()),
        }
    )


def cluster_balanced_golden(
    vec_ids: list, vecs: list, per_cluster: int = 5, n_clusters: int = 8
) -> pa.Table:
    """Sequential replica of sampling.cluster_balanced_sample over the
    embeddings table: IVF assignment (as doc_clusters_golden), then keep
    the ``per_cluster`` smallest (md5-hex-prefix, id) per cluster."""
    import hashlib

    order = sorted(zip(vec_ids, vecs), key=lambda r: (xxhash64_long(int(r[0])), r[0]))
    cents = [[float(x) for x in v] for _, v in order[:n_clusters]]
    by_cluster: dict[int, list] = {}
    for vid, v in zip(vec_ids, vecs):
        vd = [float(x) for x in v]
        cid = max(range(len(cents)), key=lambda c: (_cosine_fold(vd, cents[c]), c))
        key = hashlib.md5(str(vid).encode()).hexdigest()[:6]
        by_cluster.setdefault(cid, []).append((key, vid))
    kept = []
    for members in by_cluster.values():
        members.sort()
        kept.extend(vid for _, vid in members[:per_cluster])
    kept.sort()
    return pa.table({"vec_id": pa.array(kept, pa.int64())})


def bpe_merged_stats_golden(
    doc_ids: list, texts: list, langs: list, n_merges: int = 256, max_vocab: int = 100_000
) -> pa.Table:
    """Sequential replica of the bpe_merged_token_stats query: pretoken
    counting, top-``max_vocab`` cut, merge-table training, and per-doc
    encoding all run single-process (the trainer/encoder are the shared
    bounded-data functions; what this golden checks differentially is the
    DISTRIBUTED pretoken counting + vocabulary cut + Arrow-batched encode
    path) -> per-lang (n_docs, total_merged_tokens)."""
    from collections import Counter, defaultdict

    from graphrag_litex_spark.functions.bpe import encode_text, make_encoder, train_bpe
    from graphrag_litex_spark.operators.bpe_ops import _pretokenize

    counts: Counter = Counter()
    for t in texts:
        counts.update(_pretokenize(t or ""))
    # the distributed top-V cut orders by (count desc, pretoken asc)
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:max_vocab]
    merges = train_bpe(rows, n_merges)
    encode_word = make_encoder(merges)
    agg: dict = defaultdict(lambda: [0, 0])
    for t, lang in zip(texts, langs):
        cur = agg[lang]
        cur[0] += 1
        cur[1] += len(encode_text(t, encode_word, _pretokenize))
    out = sorted(agg.items())
    return pa.table(
        {
            "lang": pa.array([r[0] for r in out], pa.string()),
            "n_docs": pa.array([r[1][0] for r in out], pa.int64()),
            "total_merged_tokens": pa.array([r[1][1] for r in out], pa.int64()),
        }
    )


DOCOPS_VERSION = 18  # v18: + merged-BPE per-lang stats golden


def ensure_docops_goldens(sf_dir: str, out_dir: str) -> dict[str, str]:
    """Compute (once) golden parquet for dedup_simhash / dedup_minhash_lsh /
    ann_lsh_topk over the driver testdata tables in ``sf_dir``."""
    import json
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "golden_simhash": os.path.join(out_dir, "golden_simhash.parquet"),
        "golden_minhash_lsh": os.path.join(out_dir, "golden_minhash_lsh.parquet"),
        "golden_ann_lsh_topk": os.path.join(out_dir, "golden_ann_lsh_topk.parquet"),
        "golden_ann_ivf_topk": os.path.join(out_dir, "golden_ann_ivf_topk.parquet"),
        "golden_vector_rag": os.path.join(out_dir, "golden_vector_rag.parquet"),
        "golden_winnow": os.path.join(out_dir, "golden_winnow.parquet"),
        "golden_winnow_fps": os.path.join(out_dir, "golden_winnow_fps.parquet"),
        "golden_keeper_map": os.path.join(out_dir, "golden_keeper_map.parquet"),
        "golden_semantic_dedup": os.path.join(out_dir, "golden_semantic_dedup.parquet"),
        "golden_quality_classifier": os.path.join(out_dir, "golden_quality_classifier.parquet"),
        "golden_ann_pq_topk": os.path.join(out_dir, "golden_ann_pq_topk.parquet"),
        "golden_incr_dedup": os.path.join(out_dir, "golden_incr_dedup.parquet"),
        "golden_span_stats": os.path.join(out_dir, "golden_span_stats.parquet"),
        "golden_span_removed": os.path.join(out_dir, "golden_span_removed.parquet"),
        "golden_image_dups": os.path.join(out_dir, "golden_image_dups.parquet"),
        "golden_audio_dups": os.path.join(out_dir, "golden_audio_dups.parquet"),
        "golden_doc_clusters": os.path.join(out_dir, "golden_doc_clusters.parquet"),
        "golden_cluster_sample": os.path.join(out_dir, "golden_cluster_sample.parquet"),
        "golden_bpe_stats": os.path.join(out_dir, "golden_bpe_stats.parquet"),
    }
    manifest = os.path.join(out_dir, "_docops_manifest.json")
    docs_pq = os.path.join(sf_dir, "documents.parquet")
    emb_pq = os.path.join(sf_dir, "embeddings.parquet")
    want = {
        "version": DOCOPS_VERSION,
        "docs_mtime": os.stat(docs_pq).st_mtime_ns,
        "emb_mtime": os.stat(emb_pq).st_mtime_ns,
    }
    if os.path.exists(manifest):
        with open(manifest) as f:
            if json.load(f) == want and all(os.path.exists(p) for p in paths.values()):
                return paths

    docs = pq.read_table(docs_pq, columns=["doc_id", "text", "lang"])
    doc_ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    pq.write_table(simhash_duplicates_golden(doc_ids, texts), paths["golden_simhash"])
    lsh_pairs = minhash_lsh_golden(doc_ids, texts, jaccard_threshold=0.5)
    pq.write_table(lsh_pairs, paths["golden_minhash_lsh"])
    pq.write_table(keeper_map_golden(doc_ids, lsh_pairs), paths["golden_keeper_map"])
    pq.write_table(
        incremental_dedup_golden(doc_ids, texts), paths["golden_incr_dedup"]
    )
    pq.write_table(
        vector_rag_topk_golden(doc_ids, texts, "what is this corpus about", k=5),
        paths["golden_vector_rag"],
    )
    pq.write_table(winnow_golden(doc_ids, texts), paths["golden_winnow"])
    pq.write_table(
        quality_classifier_golden(doc_ids, texts, n_buckets=4096),
        paths["golden_quality_classifier"],
    )
    pq.write_table(winnow_fps_golden(doc_ids, texts), paths["golden_winnow_fps"])
    pq.write_table(span_stats_golden(doc_ids, texts), paths["golden_span_stats"])
    pq.write_table(span_removal_golden(doc_ids, texts), paths["golden_span_removed"])
    pq.write_table(image_dup_pairs_golden(doc_ids), paths["golden_image_dups"])
    pq.write_table(
        bpe_merged_stats_golden(doc_ids, texts, langs), paths["golden_bpe_stats"]
    )
    pq.write_table(audio_dup_pairs_golden(doc_ids), paths["golden_audio_dups"])

    emb = pq.read_table(emb_pq, columns=["vec_id", "embedding"])
    vids = emb.column("vec_id").to_pylist()
    vecs = emb.column("embedding").to_pylist()
    qvec = None
    rest_ids, rest_vecs = [], []
    for vid, v in zip(vids, vecs):
        if vid == 0:
            qvec = v
        else:
            rest_ids.append(vid)
            rest_vecs.append(v)
    pq.write_table(
        ann_lsh_topk_golden(rest_ids, rest_vecs, list(qvec), k=10, planes=4),
        paths["golden_ann_lsh_topk"],
    )
    pq.write_table(
        ann_ivf_topk_golden(rest_ids, rest_vecs, list(qvec), k=10, n_centroids=8, nprobe=2),
        paths["golden_ann_ivf_topk"],
    )
    pq.write_table(
        semantic_dedup_golden(vids, vecs, n_clusters=8, threshold=0.3),
        paths["golden_semantic_dedup"],
    )
    pq.write_table(doc_clusters_golden(vids, vecs, n_clusters=8), paths["golden_doc_clusters"])
    pq.write_table(
        cluster_balanced_golden(vids, vecs, per_cluster=5, n_clusters=8),
        paths["golden_cluster_sample"],
    )
    pq.write_table(
        ann_pq_topk_golden(rest_ids, rest_vecs, list(qvec), k=10, m=8, ksub=16),
        paths["golden_ann_pq_topk"],
    )
    with open(manifest, "w") as f:
        json.dump(want, f)
    return paths
