"""The input of ``curate()`` in the ``core_queries`` sweep: a documents
table in the layout of the engine's ``documents.parquet`` (doc_id, text,
lang, source, n_chars).

The content is fixed: it comes from ``CONTENT_SEED``, never from the run
seed, so the curation funnel is the same on every run. It has the shape
of the engine's sf0.1 test corpus (texts of 10 to 100 words drawn from a
30-word vocabulary, 20 sources, 5 languages with English at about 44%).
The planted shares are sf0.1's, measured on its 5,000 documents:

- near-duplicates, an earlier text with " dup" appended: 250 of 5,000
  (5%);
- exact copies of an earlier text: 8 of 5,000 (0.16%), here 0.2%.

sf0.1 has no text that the quality or repetition gate drops (its funnel
keeps 4,462 documents through both). This corpus plants 0.5% of each,
texts too short for the quality gate and one bigram repeated, so that
both gates drop documents and the funnel check sees if they stop doing
so. Most of the near-dedup drops come from the random texts
themselves: with a 30-word vocabulary, long texts share most of their
shingles (sf0.1's near-dedup drops 10.6% of its documents, twice its
planted share).

The run seed only shuffles the row order and splits the rows over one to
four parquet files.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240301
N_DOCS = 1000
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]

#: funnel of ``curate()`` on this corpus, pinned from the engine at the
#: commit that added the benchmark: a later change that alters it has
#: changed curation semantics, not only speed
EXPECTED_FUNNEL = {
    "input": 1000,
    "after_exact_dedup": 996,
    "after_near_dedup": 946,
    "after_quality_gate": 937,
    "after_repetition_gate": 933,
    "after_decontamination": 836,
}


SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)


def documents(n_docs: int = N_DOCS, content_seed: int = CONTENT_SEED) -> list[dict]:
    rng = random.Random(content_seed)
    docs = []
    for i in range(n_docs):
        roll = rng.random()
        if i >= 20 and roll < 0.05:  # near-duplicate of an earlier text
            text = docs[rng.randrange(i)]["text"] + " dup"
        elif i >= 20 and roll < 0.052:  # exact copy
            text = docs[rng.randrange(i)]["text"]
        elif roll < 0.057:  # too short to pass the quality gate
            text = " ".join(rng.choices(VOCAB, k=rng.randint(2, 4)))
        elif roll < 0.062:  # generation loop: one bigram repeated
            text = " ".join(rng.sample(VOCAB, 2) * rng.randint(8, 30))
        else:
            text = " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(LANGS),
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    return docs


def write_documents(sf_dir: str, seed: int, n_docs: int = N_DOCS) -> int:
    """Write ``sf_dir/documents.parquet`` as a directory of one to four
    files whose row order and split come from ``seed``. Returns the
    number of documents."""
    rng = random.Random(seed)
    docs = documents(n_docs)
    rng.shuffle(docs)
    n_files = rng.randint(1, 4)
    cuts = sorted(rng.sample(range(1, len(docs)), n_files - 1))
    out = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    for k, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, len(docs)])):
        part = pa.Table.from_pylist(docs[lo:hi], schema=SCHEMA)
        pq.write_table(part, os.path.join(out, f"part-{k:05d}.parquet"))
    return len(docs)
