"""Seeded input generator for the benchmark.

Writes the parquet tables the benchmark's calls read, in the fixture
schema the engine loads (`graft.engine.Tables`):

  events      event_id int64, ts timestamp[us], user_id int64,
              event_type string, value double, props string
  documents   doc_id int64, text string, lang string, source string,
              n_chars int64
  embeddings  vec_id int64, embedding list<float32> (64-dim), label int32

Event times fall in January 2024 like the fixtures, so the oracles'
time-bounded predicates select rows. Every value comes from one
`numpy.random.Generator(PCG64(seed))` stream per table, and parquet is
written without pandas metadata, so the same seed gives byte-identical
files.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JAN_2024_US = 1704067200 * 1_000_000
SPAN_US = 30 * 86400 * 1_000_000
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
SYLLABLES = ("ka to mi ra su le no vi da pe zo ghi bre tan lor quo "
             "sel mar dun fi").split()
# 20^2 + 20^3 two- and three-syllable words: random documents share few
# character 5-shingles, so near-duplicates are the edited copies only
VOCAB = [a + b for a in SYLLABLES for b in SYLLABLES] + \
    [a + b + c for a in SYLLABLES for b in SYLLABLES for c in SYLLABLES]
LANGS = np.array(["en", "en", "en", "es", "zh", "de", "fr"])
DIM = 64


def _rng(seed, table):
    # one independent stream per table: adding a table never shifts another
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.PCG64([seed, salt]))


def events(seed, n, users, skew, purchase_share=0.2):
    """`n` events over a `users`-wide user_id domain; user popularity is
    Zipf-like with exponent `skew` (0 = uniform) over a seeded ranking.
    `purchase_share` of the events are purchases, the other four types
    share the rest evenly."""
    g = _rng(seed, "events")
    ts = np.unique(g.integers(0, SPAN_US, size=n + n // 8 + 16))
    ts = np.sort(g.choice(ts, size=n, replace=False)) + JAN_2024_US
    w = 1.0 / np.arange(1, users + 1, dtype=np.float64) ** skew
    rank_to_user = g.permutation(users)
    user = rank_to_user[g.choice(users, size=n, p=w / w.sum())]
    value = np.clip(np.round(g.lognormal(3.5, 1.1, size=n), 2), 0.01, 490.0)
    type_p = np.where(EVENT_TYPES == "purchase", purchase_share, (1 - purchase_share) / 4)
    props = np.char.add(np.char.add('{"k": ', g.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[g.choice(5, size=n, p=type_p)]),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents(seed, n, dup_share):
    """`n` documents of 8-20 words; a `dup_share` of them are one- or
    two-word edits of an earlier document, so near-duplicate search finds
    components."""
    g = _rng(seed, "documents")
    texts = []
    for i in range(n):
        if i > 0 and g.random() < dup_share:
            words = texts[int(g.integers(0, i))].split()
            for _ in range(int(g.integers(1, 3))):
                words[int(g.integers(0, len(words)))] = VOCAB[int(g.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in g.integers(0, len(VOCAB), int(g.integers(8, 21)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[g.integers(0, len(LANGS), n)]),
        "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed, n, clusters):
    """`n` unit vectors drawn around `clusters` random centres."""
    g = _rng(seed, "embeddings")
    centres = g.normal(size=(clusters, DIM))
    label = g.integers(0, clusters, n)
    v = centres[label] + g.normal(scale=0.8, size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write(out_dir, seed, spec):
    """Write the tables `spec` names into `out_dir` (skipped when an
    identical generation is already there) and return a manifest with
    the seed, the parameters, row counts and file digests."""
    done = os.path.join(out_dir, "manifest.json")
    want = {"seed": seed, "spec": spec}
    if os.path.exists(done):
        with open(done) as f:
            m = json.load(f)
        if {k: m[k] for k in want} == want:
            return m
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": events, "documents": documents, "embeddings": embeddings}
    rows, digests = {}, {}
    for table, params in spec.items():
        t = makers[table](seed, **params)
        path = os.path.join(out_dir, table + ".parquet")
        pq.write_table(t, path, compression="snappy")
        rows[table] = t.num_rows
        with open(path, "rb") as f:
            digests[table] = hashlib.sha256(f.read()).hexdigest()
    m = dict(want, rows=rows, sha256=digests)
    with open(done, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m
