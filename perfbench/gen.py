"""Seeded input generators for the ts_train and corpus_curate workloads.

Both write one parquet table in the repo's test-table schema (`events`,
`documents`) into a directory keyed by (seed, parameters), so the same seed
and parameters give byte-identical inputs and a second run reuses them.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])

# Function words the engine's language heuristic scores (graft.functions.Text
# LangMarkers), plus a neutral content vocabulary.
LANG_WORDS = {
    "en": ["the", "and", "of", "a"],
    "de": ["der", "und", "die"],
    "es": ["el", "la", "los"],
    "fr": ["le", "les", "des"],
}
CONTENT = (
    "data spark stream window table column row key value group filter join "
    "sort scan hash batch query order part line vector merge agg slow fast "
    "big small index shard token chunk model train split scale series event "
    "user time cadence sample feature target label fold corpus document text "
    "page crawl quality dedup cluster signature band bucket score weight "
    "record source sink write read plan stage task shuffle spill memory disk "
    "network cache lock run serve manifest artifact fit epoch step loss grad"
).split()


def cache_dir(root, kind, seed, params):
    key = json.dumps({"kind": kind, "seed": seed, "params": params},
                     sort_keys=True)
    h = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(root, f"{kind}-s{seed}-{h}")


def _publish(tmp, final):
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    return final


def events(root, seed, p):
    """`series` users × `days` days × `events_per_day` events at uniform
    times; `missing_share` of values are NULL; event types uniform over
    five kinds (the workload's `where` drops `error`)."""
    final = cache_dir(root, "events", seed, p)
    if os.path.isfile(os.path.join(final, "events.parquet")):
        return final
    rng = np.random.default_rng([seed, 1])
    n_series, days, per_day = p["series"], p["days"], p["events_per_day"]
    n = n_series * days * per_day
    user = np.repeat(np.arange(n_series, dtype=np.int64), days * per_day)
    day = np.tile(np.repeat(np.arange(days, dtype=np.int64), per_day), n_series)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + day * 86_400_000_000 + rng.integers(0, 86_400_000_000, n)
    order = np.lexsort((user, ts))
    user, ts = user[order], ts[order]
    base = rng.normal(50.0, 15.0, n_series)[user]
    value = np.round(base + rng.normal(0.0, 5.0, n), 2)
    missing = rng.random(n) < p["missing_share"]
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype),
        "value": pa.array(value, mask=missing),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(table, os.path.join(tmp, "events.parquet"))
    return _publish(tmp, final)


def _doc_words(rng, n_words, lang):
    words = list(rng.choice(CONTENT, n_words))
    marks = LANG_WORDS[lang]
    for pos in rng.choice(n_words, max(3, n_words // 6), replace=False):
        words[pos] = marks[rng.integers(0, len(marks))]
    return words


def documents(root, seed, p):
    """`docs` documents. `near_dup_share` of them sit in clusters of
    `cluster_size` variants of one base text (each variant rewrites
    `variant_edits` words); `exact_dup_share` are verbatim copies of an
    earlier document; `spam_share` repeat one word (dropped by the
    repetition gate). `lang_share_en` of the texts use English function
    words, the rest German/Spanish/French ones."""
    final = cache_dir(root, "documents", seed, p)
    if os.path.isfile(os.path.join(final, "documents.parquet")):
        return final
    rng = np.random.default_rng([seed, 2])
    n = p["docs"]
    langs = np.where(rng.random(n) < p["lang_share_en"], "en",
                     rng.choice(["de", "es", "fr"], n))
    lo, hi = p["words_min"], p["words_max"]
    texts = [None] * n
    n_near = int(n * p["near_dup_share"]) // p["cluster_size"] * p["cluster_size"]
    for c in range(0, n_near, p["cluster_size"]):
        base = _doc_words(rng, int(rng.integers(lo, hi)), langs[c])
        for j in range(c, c + p["cluster_size"]):
            w = list(base)
            for pos in rng.choice(len(w), p["variant_edits"], replace=False):
                w[pos] = CONTENT[rng.integers(0, len(CONTENT))]
            texts[j] = " ".join(w)
            langs[j] = langs[c]
    n_spam = int(n * p["spam_share"])
    for j in range(n_near, n):
        if j < n_near + n_spam:
            texts[j] = " ".join(["spam"] * int(rng.integers(lo, hi)))
        else:
            texts[j] = " ".join(_doc_words(rng, int(rng.integers(lo, hi)), langs[j]))
    n_exact = int(n * p["exact_dup_share"])
    for j in rng.choice(np.arange(n_near + n_spam, n), n_exact, replace=False):
        texts[j] = texts[int(rng.integers(0, j))] if j > 0 else texts[j]
    perm = rng.permutation(n)
    texts = [texts[k] for k in perm]
    langs = langs[perm]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(table, os.path.join(tmp, "documents.parquet"))
    return _publish(tmp, final)
