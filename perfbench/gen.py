"""Seeded generator for the benchmark's `documents` table.

Writes `documents.parquet` with the columns and types that
`graft.Tables.expectedDdl` pins (doc_id, text, lang, source, n_chars)
and value domains shaped like the project's synthetic fixture: texts of
10–100 words from a 30-word vocabulary, a skewed language mix and 20
sources, with planted exact and near duplicates.

The same (seed, size) always gives a byte-identical table.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the batch sort value hash filter big data spark "
         "line small fast group customer part column order scan a slow agg "
         "key window table merge vector join").split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def documents(rng, n_docs):
    """Random texts, with every 20th doc a near copy (one word replaced
    by "dup") and every 250th an exact copy of an earlier original. Copies
    are taken from originals only, so duplicate clusters are stars and
    every seed gives the dedup operators the same amount of work."""
    texts, originals = [], []
    for i in range(n_docs):
        if i % 250 == 249:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif i % 20 == 19:
            src = texts[originals[int(rng.integers(0, len(originals)))]]
            words = src.split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 30, n)))
            originals.append(i)
    ids = np.arange(n_docs, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out_dir, seed, docs):
    """Write `out_dir`/documents.parquet with `docs` rows."""
    pq.write_table(pa.table(documents(np.random.default_rng(seed), docs)),
                   f"{out_dir}/documents.parquet")
