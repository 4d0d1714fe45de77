"""Seeded benchmark inputs, built from the repository's reference data.

``data/`` holds verbatim copies of the repository's reference inputs:

* ``sf0.001/``, ``sf0.01/`` -- the synthetic test tables the declared
  queries read (TESTDATA.md; the correctness oracle runs at sf0.01).
  The surface workload reads these as they are.
* ``wt2010-topics.queries-only`` -- the 50 TREC 2010 Web-track topics
  of the repository's plain topic-file fixture (FIXTURES.md section 2).

From those, and the seed alone, two generators write the corpus
workload's inputs (the same seed gives byte-identical files):

* ``corpus`` -- N replicas of the sf0.01 ``documents`` table for the
  curate -> prepare chain and the topic index.  Every 4th token of a
  replica is salted with the replica tag, so replicas stay
  near-duplicate but distinct; replica 0 stays unsalted so
  decontamination finds real hits.  Each document also gets
  TAIL_TERMS_PER_DOC terms drawn by Zipf's law (rank-frequency
  exponent 1) from a tail vocabulary, so document frequency runs from
  the table's own words (df ~ every doc) down to 1.
* ``topics`` -- topics shaped like the reference topics: a topic is a
  reference topic with each distinct term replaced by a corpus term of
  the same class.  A reference stopword (Lucene's English stop set)
  becomes a head term (a table word, in at least half the documents);
  any other term becomes a tail term drawn from the corpus's own tail
  occurrences.  The number of terms per topic and the share of topics
  with a head term are therefore the reference's.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
BASE_DOCS = os.path.join(DATA, "sf0.01", "documents.parquet")
REF_TOPICS = os.path.join(DATA, "wt2010-topics.queries-only")

# Lucene StopAnalyzer.ENGLISH_STOP_WORDS_SET, the set the engine exposes
# as graft.text.Uax29.luceneStopSet.
STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with".split())

TAIL_VOCAB = 20000
TAIL_TERMS_PER_DOC = 3


def _write(table, path, files=1):
    """Write `table` as `files` parquet part files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       f"{path}/part-{i:05d}.parquet", compression="snappy")


def base_texts():
    return pq.read_table(BASE_DOCS, columns=["text"]).column("text").to_pylist()


def head_terms(texts):
    """Words of the base table found in at least half its documents."""
    df = {}
    for t in texts:
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    return sorted(w for w, n in df.items() if 2 * n >= len(texts))


def _tail_terms(rng, n):
    """n draws of 'zq<rank>' with P(rank) proportional to 1 / rank."""
    p = 1.0 / np.arange(1, TAIL_VOCAB + 1)
    ranks = rng.choice(TAIL_VOCAB, n, p=p / p.sum()) + 1
    return np.char.add("zq", ranks.astype(str))


def corpus(out_dir, seed, replicas, files=8):
    """`replicas` copies of the base documents (doc_id, text) plus the
    decontamination benchmark set (the first 50 base docs) under
    out_dir/{docs,bench}."""
    rng = np.random.default_rng([seed, 2])
    base = base_texts()
    ids, texts = [], []
    for k in range(replicas):
        tag = f"k{k}"
        for i, text in enumerate(base):
            toks = text.split(" ")
            if k > 0:
                toks = [w + tag if j % 4 == 0 else w for j, w in enumerate(toks)]
            ids.append(k * 10_000_000 + i)
            texts.append(" ".join(toks))
    extra = _tail_terms(rng, len(texts) * TAIL_TERMS_PER_DOC)
    extra = extra.reshape(len(texts), TAIL_TERMS_PER_DOC)
    texts = [t + " " + " ".join(e) for t, e in zip(texts, extra)]
    # a seeded shuffle, so replicas interleave across the part files
    order = rng.permutation(len(ids))
    tab = pa.table({"doc_id": np.array(ids, dtype=np.int64)[order],
                    "text": np.array(texts, dtype=object)[order]})
    _write(tab, f"{out_dir}/docs", files)
    bench = pa.table({"doc_id": np.arange(50, dtype=np.int64),
                      "text": base[:50]})
    _write(bench, f"{out_dir}/bench")
    return {"docs": len(ids), "bytes": int(sum(len(t) for t in texts))}


def reference_topics():
    """[(qid, distinct terms in order)] of the reference topic file."""
    out = []
    with open(REF_TOPICS) as f:
        for line in f:
            qid, _, text = line.strip().partition(":")
            if qid:
                out.append((qid, list(dict.fromkeys(text.split()))))
    return out


def is_head(terms):
    return any(t in STOPWORDS for t in terms)


def _split(n, groups):
    """n split over groups in proportion to their sizes, largest
    remainder first (ties to the earlier group)."""
    total = sum(len(g) for g in groups)
    exact = [n * len(g) / total for g in groups]
    quota = [int(e) for e in exact]
    by_rest = sorted(range(len(groups)), key=lambda i: quota[i] - exact[i])
    for i in by_rest[:n - sum(quota)]:
        quota[i] += 1
    return quota


def pick_topics(seed, n, n_warm):
    """Two disjoint seeded draws of reference topics: `n` measured ones,
    a sample stratified by class (head / tail) and then by term count,
    so every seed measures the reference's mix; and `n_warm` warm-up
    ones from the rest."""
    rng = np.random.default_rng([seed, 3])
    ref = reference_topics()
    measured = []
    classes = [[t for t in ref if is_head(t[1])], [t for t in ref if not is_head(t[1])]]
    for cls, k in zip(classes, _split(n, classes)):
        cells = [[t for t in cls if len(t[1]) == m]
                 for m in sorted({len(t[1]) for t in cls})]
        for cell, j in zip(cells, _split(k, cells)):
            measured += [cell[i] for i in rng.choice(len(cell), j, replace=False)]
    rest = [t for t in ref if t not in measured]
    warm = [rest[i] for i in rng.choice(len(rest), n_warm, replace=False)]
    return [measured[i] for i in rng.permutation(n)], warm


def topics(path, seed, ref, corpus_dir, stream):
    """Write the reference topics `ref` as corpus topics to `path`, one
    TSV line each: qid, model (LM-Dirichlet and BM25 alternating), class
    (head / tail), terms."""
    rng = np.random.default_rng([seed, 4, stream])
    heads = head_terms(base_texts())
    docs = pq.read_table(f"{corpus_dir}/docs", columns=["text"])
    tail = [w for t in docs.column("text").to_pylist()
            for w in t.rsplit(" ", TAIL_TERMS_PER_DOC)[1:]]
    lines = []
    for q, (qid, ref_terms) in enumerate(ref):
        terms = []
        for r in ref_terms:
            # a stopword that is itself a table word ('the', 'a') stays
            if r in STOPWORDS and r in heads and r not in terms:
                terms.append(r)
                continue
            pool = heads if r in STOPWORDS else tail
            w = pool[int(rng.integers(len(pool)))]
            while w in terms:
                w = pool[int(rng.integers(len(pool)))]
            terms.append(w)
        model = "lmdir" if q % 2 == 0 else "bm25"
        cls = "head" if is_head(ref_terms) else "tail"
        lines.append(f"wt{qid}\t{model}\t{cls}\t{' '.join(terms)}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"topics": len(lines), "head": sum(is_head(t) for _, t in ref),
            "reference_qids": [qid for qid, _ in ref]}
