"""Seeded input generators, one per workload.

Every generator takes the workload seed and a size, writes its inputs as
parquet files into a directory, and returns a description of what it
injected (the ground truth the workload's correctness checks use). The
same seed gives byte-identical inputs; the program under test only ever
sees the written files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"
SYLLABLES = [c + v for c in CONSONANTS for v in VOWELS]  # 90 syllables
# the stopwords the Gopher quality rules count, at the top of the Zipf ranks
STOPWORDS = ["the", "of", "and", "to", "that", "with", "be", "have"]


def vocabulary(size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words (2-3 syllables), stopwords
    first so a Zipf draw makes them the most frequent tokens."""
    words = list(STOPWORDS)
    n = len(SYLLABLES)
    i = 0
    while len(words) < size:
        a, b, c = i % n, (i // n) % n, i // (n * n)
        words.append(SYLLABLES[a] + SYLLABLES[b] + (SYLLABLES[c - 1] if c else ""))
        i += 1
    return words


def zipf_probs(size: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


def _texts(rng: np.random.Generator, vocab: list[str], probs: np.ndarray,
           lengths: np.ndarray) -> list[str]:
    ids = rng.choice(len(vocab), size=int(lengths.sum()), p=probs).tolist()
    out, pos = [], 0
    for n in lengths.tolist():
        out.append(" ".join([vocab[w] for w in ids[pos:pos + n]]))
        pos += n
    return out


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


# ---------------------------------------------------------------- upserts


def upsert_batches(seed: int, raw_ids: list[int], *, n_batches: int,
                   batch_size: int) -> list[list[tuple]]:
    """``bulk_mixed`` ``index`` actions ``(seq, op, doc_id, text, split)``
    for the published index: half target ids of the raw corpus (present
    in the index unless curation dropped them), half brand-new ids; a
    tenth of each batch re-sends an id already in the batch, so the later
    action must win."""
    rng = np.random.default_rng([seed, 2])
    batches, next_new = [], max(raw_ids) + 1
    for b in range(n_batches):
        half = batch_size // 2
        ids = rng.choice(raw_ids, half, replace=False).tolist()
        ids += list(range(next_new, next_new + batch_size - half))
        next_new += batch_size - half
        ids += rng.choice(ids, batch_size // 10, replace=False).tolist()
        batches.append([(seq, "index", str(i), f"upserted in batch {b} as action {seq}", "train")
                        for seq, i in enumerate(ids)])
    return batches


# ---------------------------------------------------------------- search


def search_corpus(seed: int, out_dir: str, *, n_docs: int, vocab_size: int = 20000) -> dict:
    """Zipf-vocabulary corpus ``(doc_id, title, text, lang)``."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(vocab_size)
    probs = zipf_probs(vocab_size)
    text = _texts(rng, vocab, probs, rng.integers(20, 90, n_docs))
    title = _texts(rng, vocab, probs, rng.integers(2, 7, n_docs))
    table = pa.table({
        "doc_id": np.arange(1, n_docs + 1, dtype=np.int64),
        "title": title,
        "text": text,
        "lang": rng.choice(np.array(["en", "de", "fr", "es"]), n_docs, p=[0.7, 0.1, 0.1, 0.1]),
    })
    path = os.path.join(out_dir, "corpus.parquet")
    return {"path": path, "bytes": _write(table, path), "rows": n_docs,
            "vocab": vocab, "table": table}


# the op-kind schedule a client cycles through: 4/7 keyword, 1/7 each of
# query_string, count and boosted. A short fixed cycle (rather than a
# draw per op) keeps the kind mix of a short run the same on every seed;
# the clients start at different points of it.
KIND_CYCLE = ("keyword", "query_string", "keyword", "count", "keyword", "boosted", "keyword")
KIND_NAMES = ("keyword", "query_string", "boosted", "count")


def warmup_ops(vocab: list[str]) -> list[tuple]:
    """One op of each kind, on fixed terms, in the shape of ``search_ops``."""
    a, b = vocab[len(STOPWORDS) + 100], vocab[len(STOPWORDS) + 200]
    return [("keyword", a, None), ("query_string", f"{a} AND NOT {b}", None),
            ("boosted", f"{a} {b}", ["title^3", "text"]), ("count", a, None)]


def search_ops(seed: int, client: int, vocab: list[str], n_ops: int, popular: int = 40):
    """The read-only ops of one closed-loop client, as a list of
    ``(kind, query, text_col)``. Keyword queries (1-3 terms) are drawn
    from a Zipf-weighted pool of popular queries shared by all clients,
    so queries repeat; query_string ops rotate through field scope,
    phrase, AND NOT and AND; boosted ops search ``title^3`` and
    ``text``; counts take one term. Terms come from the mid Zipf ranks:
    present in many docs, never stopwords."""
    mid = np.arange(len(STOPWORDS) + 20, 3000)
    pool_rng = np.random.default_rng([seed, 4])
    pool = [" ".join(vocab[w] for w in pool_rng.choice(mid, int(pool_rng.integers(1, 4)),
                                                        replace=False))
            for _ in range(popular)]
    pool_p = zipf_probs(popular, 1.0)
    rng = np.random.default_rng([seed, 5, client])
    ops = []
    for i in range(n_ops):
        kind = KIND_CYCLE[(i + 3 * client) % len(KIND_CYCLE)]
        a, b = (vocab[w] for w in rng.choice(mid, 2, replace=False))
        if kind == "keyword":
            ops.append((kind, pool[int(rng.choice(popular, p=pool_p))], None))
        elif kind == "query_string":
            form = sum(o[0] == kind for o in ops) % 4
            ops.append((kind, [f"title:{a}", f'"{a} {b}"', f"{a} AND NOT {b}",
                               f"{a} AND {b}"][form], None))
        elif kind == "boosted":
            ops.append((kind, f"{a} {b}", ["title^3", "text"]))
        else:
            ops.append((kind, a, None))
    return ops


# ---------------------------------------------------------------- curation


def curation_corpus(seed: int, out_dir: str, *, n_docs: int,
                    vocab_size: int = 20000) -> dict:
    """Curation corpus with known defects: low-quality docs (fail the
    Gopher rules), exact duplicates (same text, new id), near-duplicates
    (3% of words replaced) and docs containing a 12-token span of a
    held-out benchmark doc. Also writes the benchmark set."""
    rng = np.random.default_rng([seed, 6])
    vocab = vocabulary(vocab_size)
    probs = zipf_probs(vocab_size)
    n_low = n_docs // 50
    n_exact = n_docs // 25
    n_near = n_docs // 25
    n_cont = n_docs // 50
    n_clean = n_docs - n_low - n_exact - n_near
    texts = _texts(rng, vocab, probs, rng.integers(60, 160, n_clean))
    bench_texts = _texts(rng, vocab, probs, rng.integers(60, 120, 40))
    kinds = ["clean"] * n_clean
    # contaminated: a 12-token benchmark span spliced into clean docs
    cont_idx = rng.choice(n_clean, n_cont, replace=False)
    for i in cont_idx.tolist():
        bt = bench_texts[int(rng.integers(0, len(bench_texts)))].split(" ")
        s = int(rng.integers(0, len(bt) - 12))
        words = texts[i].split(" ")
        cut = int(rng.integers(0, len(words)))
        texts[i] = " ".join(words[:cut] + bt[s:s + 12] + words[cut:])
        kinds[i] = "contaminated"
    pristine = [i for i in range(n_clean) if kinds[i] == "clean"]
    exact_src = rng.choice(pristine, n_exact, replace=False).tolist()
    pristine = sorted(set(pristine) - set(exact_src))
    near_src = rng.choice(pristine, n_near, replace=False).tolist()
    for i in exact_src:
        texts.append(texts[i])
        kinds.append("exact")
    for i in near_src:
        words = texts[i].split(" ")
        for j in rng.choice(len(words), max(1, len(words) * 3 // 100), replace=False).tolist():
            words[j] = vocab[int(rng.integers(len(STOPWORDS), vocab_size))]
        texts.append(" ".join(words))
        kinds.append("near")
    for k in range(n_low):  # too short, or mostly symbols
        if k % 2:
            texts.append(" ".join(vocab[int(w)] for w in rng.integers(0, 500, 20)))
        else:
            texts.append(" ".join(["#"] * 30 + [vocab[int(w)] for w in rng.integers(0, 500, 40)]))
        kinds.append("low")
    # ids are a seeded permutation, so injected docs are not id-ordered
    ids = rng.permutation(len(texts)) + 1
    table = pa.table({"doc_id": ids.astype(np.int64), "text": texts})
    path = os.path.join(out_dir, "curation.parquet")
    bench_path = os.path.join(out_dir, "benchmark_set.parquet")
    _write(pa.table({"text": bench_texts}), bench_path)
    return {
        "path": path, "bench_path": bench_path,
        "bytes": _write(table, path), "rows": len(texts),
        "ids": ids.tolist(), "texts": texts, "kinds": kinds,
        "bench_texts": bench_texts,
        "exact_of": {int(ids[n_clean + j]): int(ids[i]) for j, i in enumerate(exact_src)},
        "near_of": {int(ids[n_clean + n_exact + j]): int(ids[i]) for j, i in enumerate(near_src)},
    }
