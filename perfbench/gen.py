"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical tables. The program under test only ever sees the parquet
files written by :func:`write_parquet_dir`.

* hot corpus    -- ``datagen.generate_transcripts(sf, seed)``: a 52-entity
  Zipf-hot vocabulary with surface variants (the repo's own fixture), cut
  to a fixed turn budget.
* wide corpus   -- the same sentence shapes and variant kinds over tens of
  thousands of Title-Case canonical entities picked near-uniformly, so the
  name table, the linking blocks and the entity graph grow with the corpus.
* append batch  -- wide-vocabulary conversations whose ids are disjoint from
  the base corpus and from every other batch.
* documents     -- a (doc_id, text) table with planted near-duplicate pairs.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from graphrag_litex_spark import datagen

# Title-Case second tokens. The org/place suffixes type the entity through
# the extractor's suffix rules; the rest make two-token PERSON names.
_SECOND_TOKENS = [
    "Corp", "Inc", "Ltd", "Labs", "Systems", "Group", "Holdings", "Industries",
    "Bank", "Partners", "City", "Valley", "Harbor", "Heights",
    "Carter", "Nguyen", "Okafor", "Lindqvist", "Moreau", "Tanaka",
]
_SYLLABLES = [
    "ka", "vo", "ri", "mel", "dor", "sa", "ten", "lu", "bra", "zin", "fe",
    "mo", "gal", "ti", "ner", "po", "qua", "shi", "ve", "ro", "bel", "an",
    "cor", "di", "es", "fin", "gor", "hal", "is", "jun", "kel", "lor",
]
_VARIANT_P = [0.55, 0.12, 0.10, 0.10, 0.13]  # datagen._pick_entity's mix
_EPOCH = datetime(2025, 6, 1, tzinfo=timezone.utc).timestamp()


def wide_vocabulary(n_entities: int, seed: int) -> list[str]:
    """``n_entities`` distinct canonical names "<First> <Second>".

    About four canonical entities share each first token, so linking sees
    ``n_entities / 4`` first-token blocks of a handful of names each.
    """
    rng = np.random.RandomState(seed % (2**31 - 1))
    n_first = max(1, (n_entities + 3) // 4)
    firsts: list[str] = []
    seen: set[str] = set()
    while len(firsts) < n_first:
        k = 2 + int(rng.randint(2))
        tok = "".join(_SYLLABLES[int(i)] for i in rng.randint(len(_SYLLABLES), size=k))
        tok = tok.capitalize()
        if tok not in seen:
            seen.add(tok)
            firsts.append(tok)
    names: list[str] = []
    for first in firsts:
        for j in rng.choice(len(_SECOND_TOKENS), size=4, replace=False):
            names.append(f"{first} {_SECOND_TOKENS[int(j)]}")
    return names[:n_entities]


def _wide_sentence(rng: np.random.RandomState, vocab: list[str]) -> str:
    """datagen's four sentence shapes over a uniformly picked entity."""

    def pick() -> str:
        name = vocab[int(rng.randint(len(vocab)))]
        return datagen._variant(name, int(rng.choice(5, p=_VARIANT_P)))

    r = rng.rand()
    if r < 0.50:
        e1, e2 = pick(), pick()
        pred = datagen._PRED_LIST[int(rng.randint(len(datagen._PRED_LIST)))]
        trailer = datagen._TRIPLE_TRAILERS[int(rng.randint(len(datagen._TRIPLE_TRAILERS)))]
        return f"{e1} {pred} {e2}{trailer}."
    if r < 0.65:
        tail = datagen._MENTION_TAILS[int(rng.randint(len(datagen._MENTION_TAILS)))]
        return f"{pick()} {tail}."
    if r < 0.80:
        tail = datagen._CLAIM_TAILS[int(rng.randint(len(datagen._CLAIM_TAILS)))]
        return f"{pick()} {tail}."
    return f"{datagen._FILLERS[int(rng.randint(len(datagen._FILLERS)))]}."


def wide_transcripts(
    n_convs: int, vocab: list[str], seed: int, prefix: str = "wide"
) -> pa.Table:
    """``n_convs`` conversations of 8-23 turns over ``vocab``; ids are
    ``<prefix>_<n>`` so batches with distinct prefixes never collide."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    cols: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    for c in range(n_convs):
        conv_id = f"{prefix}_{c:06d}"
        ts = _EPOCH + c * 3600.0
        for t in range(8 + int(rng.randint(16))):
            ts += 1.0 + float(rng.randint(120))
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(t)
            cols["role"].append("user" if t % 2 == 0 else "assistant")
            cols["text"].append(" ".join(_wide_sentence(rng, vocab) for _ in range(1 + int(rng.randint(3)))))
            cols["tool"].append(None)
            cols["ts"].append(datetime.fromtimestamp(ts, tz=timezone.utc))
    return pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        }
    )


def documents(n_docs: int, n_dup_pairs: int, seed: int) -> tuple[pa.Table, list[tuple[int, int]]]:
    """(doc_id, text) table plus its planted near-duplicate pairs.

    Base documents are 100-180 words drawn from a 3000-word vocabulary, so
    unrelated documents share almost no word 3-shingles. Each planted
    duplicate copies an earlier document and changes one word, which keeps
    its shingle Jaccard with the original above 0.93: the default LSH
    banding (8 bands x 4 rows) then misses a pair with probability < 1e-5.
    """
    rng = np.random.RandomState(seed % (2**31 - 1))
    words = sorted({
        "".join(_SYLLABLES[int(i)] for i in rng.randint(len(_SYLLABLES), size=2 + int(rng.randint(2))))
        for _ in range(4000)
    })[:3000]
    n_base = n_docs - n_dup_pairs
    texts: list[str] = []
    for _ in range(n_base):
        n = 100 + int(rng.randint(81))
        texts.append(" ".join(words[int(i)] for i in rng.randint(len(words), size=n)))
    pairs: list[tuple[int, int]] = []
    for src in rng.choice(n_base, size=n_dup_pairs, replace=False):
        toks = texts[int(src)].split(" ")
        toks[int(rng.randint(len(toks)))] = words[int(rng.randint(len(words)))]
        pairs.append((int(src), len(texts)))
        texts.append(" ".join(toks))
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    return table, pairs


def hot_transcripts(n_turns: int, seed: int) -> pa.Table:
    """``datagen.generate_transcripts(sf, seed)`` cut to its first whole
    conversations (in id order) that fit in ``n_turns`` turns.

    Conversation lengths are Zipf-distributed, so at a fixed ``sf`` the
    corpus size moves with the seed by several percent; the cut keeps it
    within one conversation of ``n_turns``. Every conversation has at least
    8 turns, so ``n_turns / 8`` conversations always suffice, and the
    generation cost does not depend on the seed.
    """
    table = datagen.generate_transcripts((n_turns // 8 + 1) / datagen.n_convs_for_sf(1.0), seed)
    counts = table.group_by("conv_id").aggregate([("turn_idx", "count")]).sort_by("conv_id")
    keep = np.cumsum(counts.column("turn_idx_count").to_numpy()) <= n_turns
    ids = counts.column("conv_id").filter(pa.array(keep))
    return table.filter(pc.is_in(table.column("conv_id"), value_set=ids))


def write_parquet_dir(table: pa.Table, path: str, rows_per_file: int = 20_000) -> str:
    """Write ``table`` as a multi-file parquet directory (one Spark split
    per file, like a warehouse table) and return ``path``."""
    os.makedirs(path, exist_ok=True)
    n_files = max(1, (table.num_rows + rows_per_file - 1) // rows_per_file)
    step = (table.num_rows + n_files - 1) // n_files
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )
