"""Seeded input generation. Every input a workload reads is written here,
from the run's seed, into the run's own working directory; the same seed
gives byte-identical inputs."""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# osm_backfill: OSM history + changesets
BACKFILL_ELEMENTS = 2500

# stream catch-up: a backlog of replication sequences, one per micro-batch
STREAM_SEQUENCES = 3
STREAM_FEATURES = 1000
STREAM_CORRUPT_EVERY = 97
FIRST_SEQUENCE = 1000  # datagen.write_augdiff_dropdir numbering

# query_suite: the sf test tables the suite's queries read (building_match
# reads only the events' ids, one building pair per event). Every figure
# below was measured on the read-only sf test tables of TESTDATA.md
# (perfbench/README.md, "Suite inputs"):
# the row counts are those of sf0.01, the same generator at a tenth of
# sf0.1; the distributions are those of sf0.1.
SUITE_DOCUMENTS = 500      # sf0.01: 500 (sf0.1: 5000)
SUITE_EMBEDDINGS = 500     # sf0.01: 500 (sf0.1: 2000)
DOC_WORDS = (10, 99)       # sf0.1: words per original uniform, min 10, quartiles 32/54/76
NEAR_DUP_RATE = 0.05       # sf0.1: 250 of 5000 documents are another's text + " dup"
NEAR_DUP_WORD = "dup"
SOURCES = 20               # sf0.1: source = "src{doc_id % 20}"
EMBEDDING_DIM = 64         # sf0.1: unit-norm float32 vectors
EMBEDDING_LABELS = 10      # sf0.1: labels uniform over 0..9, independent of the vector
SUITE_EVENTS = 10_000      # sf0.01: 10000 (sf0.1: 100000)
EVENT_USERS = 150          # sf0.01: user_id uniform over 0..149 (sf0.1: 0..1499)
EVENT_DAYS = 30            # sf0.1: ts uniform over 2024-01-01..01-30, rows in ts order
EVENT_VALUE_MEAN = 50.0    # sf0.1: value exponential, mean 49.9, median 34.8, 2 decimals
EVENT_PROPS = 100          # sf0.1: props = '{"k": n}', n uniform over 0..99
# sf0.1: signup 20302, purchase 20084, view 19941, click 19863, error 19810
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
# sf0.1: the 30 words other than "dup", each about 9,100 times in 5000 documents
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# sf0.1: en 2059, zh 753, es 744, fr 742, de 702 of 5000
_LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}


def backfill_inputs(out_dir: str, seed: int) -> dict:
    from osmesa_spark import datagen

    sizes = datagen.write_fixtures(out_dir, n_elements=BACKFILL_ELEMENTS, seed=seed)
    return {"n_elements": BACKFILL_ELEMENTS, **sizes}


def stream_inputs(drop_dir: str, seed: int) -> dict:
    """Backlog of STREAM_SEQUENCES augmented-diff sequences with one corrupt
    line per STREAM_CORRUPT_EVERY features, then a one-row flush sequence
    whose event time closes the last data sequence's watermark."""
    from osmesa_spark import datagen

    features = datagen.write_augdiff_dropdir(
        drop_dir,
        n_sequences=STREAM_SEQUENCES,
        per_seq=STREAM_FEATURES,
        seed=seed,
        corrupt_every=STREAM_CORRUPT_EVERY,
    )
    flush_seq = FIRST_SEQUENCE + STREAM_SEQUENCES
    flush = {
        "sequence": flush_seq, "id": 1, "type": "node", "version": 1,
        "minorVersion": 0, "updated": "2020-01-01T00:00:00", "visible": True,
        "tags": {"building": "yes"}, "prevTags": None, "changeset": 999_999,
        "uid": 2, "user": "flush", "geomType": "Point",
        "geom": [{"lon": 0.0, "lat": 0.0}], "prevGeom": None,
    }
    with open(os.path.join(drop_dir, f"{flush_seq}.jsonl"), "w") as f:
        f.write(json.dumps(flush) + "\n")
    return {
        "sequences": STREAM_SEQUENCES,
        "features": features,
        "corrupt_lines": features // STREAM_CORRUPT_EVERY,
        "last_sequence": flush_seq,
    }


def suite_inputs(sf_dir: str, seed: int) -> dict:
    """documents, embeddings and events in the sf test tables' schemas
    and distributions (see the constants above)."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = random.Random(seed)

    texts = [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(*DOC_WORDS)))
        for _ in range(SUITE_DOCUMENTS)
    ]
    for i in range(SUITE_DOCUMENTS):
        if rng.random() < NEAR_DUP_RATE:
            texts[i] = f"{texts[rng.randrange(SUITE_DOCUMENTS)]} {NEAR_DUP_WORD}"
    docs = pa.table({
        "doc_id": pa.array(range(SUITE_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": rng.choices(list(_LANGS), weights=list(_LANGS.values()), k=SUITE_DOCUMENTS),
        "source": [f"src{i % SOURCES}" for i in range(SUITE_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))

    # sf0.1's per-label centroids are as far from 0 as sampling noise alone
    # puts them: the vectors are uniform on the sphere, the labels random
    nrng = np.random.default_rng(seed)
    vecs = nrng.normal(size=(SUITE_EMBEDDINGS, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(SUITE_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, EMBEDDING_LABELS, SUITE_EMBEDDINGS), pa.int32()),
    })
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))

    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = start_us + np.sort(nrng.integers(0, EVENT_DAYS * 86_400_000_000, SUITE_EVENTS))
    events = pa.table({
        "event_id": pa.array(range(SUITE_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(nrng.integers(0, EVENT_USERS, SUITE_EVENTS), pa.int64()),
        "event_type": nrng.choice(_EVENT_TYPES, SUITE_EVENTS).tolist(),
        "value": np.round(nrng.exponential(EVENT_VALUE_MEAN, SUITE_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in nrng.integers(0, EVENT_PROPS, SUITE_EVENTS)],
    })
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))
    return {
        "documents": SUITE_DOCUMENTS,
        "near_duplicates": sum(t.endswith(" " + NEAR_DUP_WORD) for t in texts),
        "embeddings": SUITE_EMBEDDINGS,
        "events": SUITE_EVENTS,
    }
