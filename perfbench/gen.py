"""Seeded input generator for the benchmark.

`generate(seed, out_dir)` writes every workload's inputs under
`out_dir`; the same seed gives byte-identical files. The engine reads
only these files.

- corpus/documents.parquet: the sf0.1 `documents` table (5,000 docs),
  copied byte for byte from data/sf0.1/. Every workload seed serves the
  same corpus, so set-up cost does not vary with the seed. The words
  the generator draws (query noise, shard vocabularies, re-versions)
  are the words of this corpus.
- rag/queries.parquet: the rag_serve op schedule. A cycle is five
  1-query ops (exact twice, IVF, PQ, RRF) in a seeded order, then one
  100-query exact op. Each query is a noisy excerpt of one corpus doc,
  whose id is the query's gold answer. Ops with negative ids are the
  set-up warm-up.
- curate/shard_0000/documents.parquet: the corpus re-keyed, with its
  vocabulary permuted by the seed (a word-level form of ScaleGen's
  per-replica bijection). warm_0/ is the 200-doc set-up shard, built
  the same way.
- ingest/batch_NNNN.parquet: 20-doc micro-batches of doc versions, in
  landing order: 10 re-versions of existing docs, 4 truncations, 3 new
  docs and 3 re-sent current versions. warm_0.parquet is landed
  before the measured ops.
"""

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "data", "sf0.1", "documents.parquet")
PATHS = ["exact", "ivf", "pq", "rrf"]
# the 1-query ops of one rag cycle; exact twice, so the cycle's median
# averages two ops
SMALL_OPS = ["exact", "exact", "ivf", "pq", "rrf"]

RAG_CYCLES = 10
LARGE_BATCH = 100
CURATE_SHARDS = 1
CURATE_SHARD_DOCS = 5000
CURATE_WARM_DOCS = 200
# words a shard's permutation keeps: the boilerplate separator and the
# corpus's near-duplicate marker
FIXED_WORDS = {"the", "dup"}
INGEST_BATCHES = 40
# doc versions per ingest batch, by kind
INGEST_MIX = [("reversion", 10), ("truncate", 4), ("new", 3), ("resend", 3)]

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])


def corpus():
    """The corpus as a list of (doc_id, text, lang, source), by doc id."""
    t = pq.read_table(CORPUS, columns=["doc_id", "text", "lang", "source"])
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def vocabulary(docs):
    """The corpus's words, sorted."""
    return sorted({w for d in docs for w in d[1].split()})


def write_docs(path, docs):
    cols = list(zip(*docs)) if docs else [[], [], [], []]
    table = pa.table([pa.array(cols[0], pa.int64()), pa.array(cols[1], pa.string()),
                      pa.array(cols[2], pa.string()), pa.array(cols[3], pa.string()),
                      pa.array([len(t) for t in cols[1]], pa.int64())], schema=DOC_SCHEMA)
    pq.write_table(table, path)


def case_query(rng, docs, vocab):
    """A noisy excerpt of one doc; its gold answer is the doc id."""
    doc_id, text, _, _ = docs[rng.randrange(len(docs))]
    words = text.split()
    n = max(8, len(words) * rng.randint(40, 80) // 100)
    start = rng.randrange(len(words) - n + 1) if n < len(words) else 0
    excerpt = [w if rng.random() >= 0.15 else rng.choice(vocab) for w in words[start:start + n]]
    return " ".join(excerpt), str(doc_id)


def rag_queries(rng, docs, vocab, path):
    ops, cycles, paths, qids, texts, answers, kinds = [], [], [], [], [], [], []

    def add(op, kind, p, n):
        for _ in range(n):
            text, gold = case_query(rng, docs, vocab)
            ops.append(op)
            kinds.append(kind)
            paths.append(p)
            qids.append(len(qids))
            texts.append(text)
            answers.append(gold)

    for j, p in enumerate(PATHS):
        add(-1 - j, "warmup", p, 1)
    cycle = len(SMALL_OPS) + 1
    for c in range(RAG_CYCLES):
        order = SMALL_OPS[:]
        rng.shuffle(order)
        for j, p in enumerate(order):
            add(c * cycle + j, "small", p, 1)
        add(c * cycle + len(SMALL_OPS), "large", "exact", LARGE_BATCH)
    table = pa.table({
        "op": pa.array(ops, pa.int32()), "cycle": pa.array([cycle] * len(ops), pa.int32()),
        "kind": kinds, "path": paths, "qid": pa.array(qids, pa.int64()),
        "text": texts, "answers": answers})
    pq.write_table(table, path)


def curate_shards(rng, docs, vocab, out):
    """Shard k is a CURATE_SHARD_DOCS-doc run of the corpus from doc
    k * CURATE_SHARD_DOCS on (wrapping), re-keyed by (k + 1) * 10^6, its
    words mapped through a seeded permutation of the vocabulary that
    keeps FIXED_WORDS. A permutation keeps every doc's word count,
    language and duplicate structure, so the seed changes the text but
    not the shape of the work. The set-up shard warm_0 is built the same
    way with CURATE_WARM_DOCS docs."""
    movable = [w for w in vocab if w not in FIXED_WORDS]
    sizes = [CURATE_SHARD_DOCS] * CURATE_SHARDS + [CURATE_WARM_DOCS]
    for s, size in enumerate(sizes):
        perm = movable[:]
        rng.shuffle(perm)
        mapping = dict(zip(movable, perm))
        start = s * CURATE_SHARD_DOCS
        shard = [((s + 1) * 1_000_000 + doc_id, " ".join(mapping.get(w, w) for w in text.split()),
                  lang, source)
                 for doc_id, text, lang, source in
                 (docs[(start + j) % len(docs)] for j in range(size))]
        name = "warm_0" if s == CURATE_SHARDS else f"shard_{s:04d}"
        os.makedirs(os.path.join(out, name), exist_ok=True)
        write_docs(os.path.join(out, name, "documents.parquet"), shard)


def ingest_batches(rng, docs, vocab, out):
    """Every batch has the same version mix: re-versions, truncations, new
    docs and re-sent current versions, in fixed counts. Text lengths come
    from a seed-independent schedule, so batches of every seed carry about
    the same volume; the seed picks the docs and the words."""
    shape = random.Random("ingest-shape")
    current = {d[0]: d[1] for d in docs}
    next_id = max(current) + 1
    for b in range(-1, INGEST_BATCHES):
        batch = {}
        for kind, n in INGEST_MIX:
            for _ in range(n):
                length = shape.randint(10, 100)
                if kind == "new":
                    doc_id, next_id = next_id, next_id + 1
                else:
                    doc_id = rng.randrange(next_id)
                    while doc_id in batch or (kind == "truncate" and len(current[doc_id].split()) < 12):
                        doc_id = rng.randrange(next_id)
                words = current.get(doc_id, "").split()
                if kind == "resend":
                    text = current[doc_id]
                elif kind == "truncate":
                    text = " ".join(words[:min(len(words) - 1, max(8, length // 3))])
                else:
                    text = " ".join(rng.choice(vocab) for _ in range(length))
                batch[doc_id] = text
                current[doc_id] = text
        rows = sorted(batch.items())
        table = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                          "text": [r[1] for r in rows]})
        name = f"batch_{b:04d}.parquet" if b >= 0 else "warm_0.parquet"
        pq.write_table(table, os.path.join(out, name))


def generate(seed, out_dir):
    docs = corpus()
    vocab = vocabulary(docs)
    for sub in ("corpus", "rag", "curate", "ingest"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    shutil.copyfile(CORPUS, os.path.join(out_dir, "corpus", "documents.parquet"))
    # one stream per workload, so changing one workload's generator
    # leaves the others' inputs as they were
    rag_queries(random.Random(f"{seed}/rag"), docs, vocab,
                os.path.join(out_dir, "rag", "queries.parquet"))
    curate_shards(random.Random(f"{seed}/curate"), docs, vocab, os.path.join(out_dir, "curate"))
    ingest_batches(random.Random(f"{seed}/ingest"), docs, vocab, os.path.join(out_dir, "ingest"))
