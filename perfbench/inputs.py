"""Seeded benchmark inputs.

Every input is a pure function of the workload seed: the same seed writes
byte-identical tables. The program under test only ever sees the written
parquet files.

* ``boilerplate_clips`` — the FIXTURES.md scenario mix from
  ``datagen.generate_clips`` plus template families: clips whose transcripts
  share one long template and differ only in a short tail, each with its own
  audio. A family is larger than ``DedupConfig.bucket_cap``, so the text
  MinHash buckets of the template overflow the cap. Inside each family some
  clips are planted as text-only twins (same transcript, different audio,
  kind ``near_text``): a twin pair is found only through the text family, so
  whatever the cap drops shows as lost recall.
* ``documents`` — a documents + embeddings pair built the way the
  round-6 bench tables (sf0.1) are built, as measured by
  ``perfbench/shape.py``: 10-99 words per text drawn uniformly from a
  30-word vocabulary, 5 % near-duplicates (another document's text with
  " dup" appended, so the original is also contained in it; two
  near-duplicates of one source are exact copies, the only ones sf0.1 has),
  the sf0.1 language shares, ``src{doc_id % 20}`` sources, and 0.4 unit
  64-dim embeddings per document with ten labels.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pandas as pd


def boilerplate_clips(seed: int, n_base: int, n_families: int, family_size: int,
                      template_words: int, twin_pairs: int):
    """Return a ``datagen.ClipsFixture``: the base mix + template families."""
    from file_deduplicator_spark.datagen import (
        ClipsFixture,
        _make_vocab,
        _synth_pcm,
        generate_clips,
    )
    from file_deduplicator_spark.functions.audio import wav_encode

    fx = generate_clips(n_clips=n_base, seed=seed)
    base = fx.clips
    rng = np.random.RandomState(seed + 7919)
    vocab = _make_vocab(np.random.RandomState(seed + 1))
    start = len(base)
    t0 = base["mtime"].max()

    def words(n):
        return " ".join(vocab[j] for j in rng.randint(0, len(vocab), size=n))

    rows, pairs = [], []
    for _ in range(n_families):
        template = words(template_words)
        # twins take the first 2*twin_pairs slots; slot order is shuffled so
        # twins are spread over the family's id range (the cap keeps the
        # lowest ids of a bucket)
        slots = rng.permutation(family_size)
        tails: dict[int, str] = {}
        for k in range(family_size):
            slot = int(slots[k])
            twin_of = slot ^ 1 if slot < 2 * twin_pairs else None
            if twin_of is not None and twin_of in tails:
                tail = tails[twin_of]
            else:
                tail = words(rng.randint(1, 4))
            tails[slot] = tail
            sr = int(rng.choice([8000, 16000]))
            dur = int(rng.randint(200, 600))
            cid = f"clip_{start + len(rows):08d}"
            rows.append({
                "clip_id": cid,
                "bytes": wav_encode(_synth_pcm(rng, sr, dur), sr),
                "sr_hz": np.int32(sr),
                "dur_ms": np.int32(dur),
                "codec": "wav",
                "transcript": f"{template} {tail}",
                "mtime": t0 + dt.timedelta(minutes=7 * (len(rows) + 1)),
                "scenario": "boilerplate_twin" if twin_of is not None else "boilerplate",
                "_slot": slot,
            })
        fam = rows[-family_size:]
        by_slot = {r["_slot"]: r["clip_id"] for r in fam}
        for s in range(0, 2 * twin_pairs, 2):
            a, b = sorted((by_slot[s], by_slot[s + 1]))
            pairs.append((a, b, "near_text"))
    extra = pd.DataFrame(rows).drop(columns=["_slot"])
    clips = pd.concat([base, extra], ignore_index=True)
    expected = pd.concat(
        [fx.expected_pairs,
         pd.DataFrame(pairs, columns=["clip_id_a", "clip_id_b", "kind"])],
        ignore_index=True)
    return ClipsFixture(clips, expected, fx.forbidden_pairs, fx.keeper_cases)


_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
# sf0.1 (5,000 documents) holds 250 near-duplicates and 2,000 embeddings
NEAR_DUP_SHARE = 0.05
VECS_PER_DOC = 0.4


def documents(seed: int, n_docs: int, out_dir: Path) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` to ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    texts = [" ".join(_DOC_WORDS[j] for j in
                      rng.randint(0, len(_DOC_WORDS), size=rng.randint(10, 100)))
             for _ in range(n_docs)]
    n_near = round(n_docs * NEAR_DUP_SHARE)
    # near-duplicates and their sources are disjoint; a source may sit
    # before or after its near-duplicate, as in sf0.1
    picks = rng.permutation(n_docs)
    planted, sources = picks[:n_near], picks[n_near:]
    for i in planted:
        texts[i] = f"{texts[sources[rng.randint(0, len(sources))]]} dup"
    n_vecs = round(n_docs * VECS_PER_DOC)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=n_docs, p=_LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    v = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, size=n_vecs).astype(np.int32)),
    })
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, out_dir / "documents.parquet")
    pq.write_table(emb, out_dir / "embeddings.parquet")
