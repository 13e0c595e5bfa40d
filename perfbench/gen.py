"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs under a directory of its own and a
`manifest.json` with their size and the answers expected from them,
computed here without graft. The same seed gives byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <dest>
"""
import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 2

# wordcount: a Zipf corpus with about 28 tokens per line.
WC_TOKENS = 6_000_000
WC_VOCAB = 2_000_000
WC_ZIPF_S = 1.05
WC_TOKENS_PER_LINE = 28
WC_FILES = 8

# query_mix: the tables the chosen registered queries read, in the shape
# of the sf0.01 `events` and `documents` tables the queries are written
# for (their measured properties are in NOTES.md). They are the same for
# every seed (the seed orders the queries), so the oracle's answers can be
# cached with them.
QM_DATA_SEED = 0
QM_EVENTS = 10_000
QM_USERS = 150
QM_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
QM_VALUE_MEAN = 50.0  # value is exponential, rounded to cents
QM_PROPS_K = 100
QM_DAYS = 30
QM_DOCS = 500
QM_DOC_WORDS = (10, 99)  # words in an original document, uniform
QM_DUP_FRAC = 0.05  # documents that copy another one with " dup" appended
QM_VOCAB = ("a agg batch big column customer data fast filter group hash "
            "join key line merge order part query row scan slow small sort "
            "spark stream table the value vector window").split()
QM_SOURCES = 20
QM_LANGS = ["en", "zh", "de", "fr", "es"]
QM_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def tsv_digest(words, counts):
    """Order-independent digest of a `word<TAB>count` table: the sum of
    its rows' 64-bit hashes mod 2^64."""
    df = pd.DataFrame({"word": pd.Series(words, dtype=object),
                       "cnt": pd.Series(counts, dtype=np.int64)})
    return str(int(pd.util.hash_pandas_object(df, index=False)
                   .to_numpy(np.uint64).sum(dtype=np.uint64)))


def gen_wordcount(seed, dest):
    rng = np.random.default_rng([seed, 1])
    letters = np.frombuffer(bytes(ord("a") + int(i) for i in rng.permutation(26)),
                            np.uint8)
    ranks = np.arange(1, WC_VOCAB + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -WC_ZIPF_S)
    cdf /= cdf[-1]
    idx = np.searchsorted(cdf, rng.random(WC_TOKENS), side="right")
    idx = np.minimum(idx, WC_VOCAB - 1)
    counts = np.bincount(idx, minlength=WC_VOCAB)
    used = np.flatnonzero(counts)
    # the word of rank r spells r + 1 in bijective base 26: distinct ranks
    # give distinct words, and frequent (low) ranks get short words
    width = 1
    while 26 ** width < WC_VOCAB:
        width += 1
    chars = np.zeros((WC_VOCAB, width), np.uint8)
    length = np.zeros(WC_VOCAB, np.int64)
    k = np.arange(1, WC_VOCAB + 1)
    for j in range(width):
        live = k > 0
        k = k - live
        chars[live, j] = letters[k[live] % 26]
        length += live
        k //= 26
    # the corpus: tokens separated by spaces, a newline after every line
    tok_len = length[idx]
    start = np.concatenate(([0], np.cumsum(tok_len + 1)[:-1]))
    buf = np.empty(int(tok_len.sum()) + WC_TOKENS, np.uint8)
    for j in range(width):
        m = tok_len > j
        buf[start[m] + j] = chars[idx[m], j]
    sep = np.full(WC_TOKENS, ord(" "), np.uint8)
    sep[WC_TOKENS_PER_LINE - 1::WC_TOKENS_PER_LINE] = ord("\n")
    sep[-1] = ord("\n")
    buf[start + tok_len] = sep
    n_lines = -(-WC_TOKENS // WC_TOKENS_PER_LINE)
    ends = np.flatnonzero(buf == ord("\n")) + 1
    cuts = [0] + [int(ends[min(len(ends), -(-n_lines * f // WC_FILES)) - 1])
                  for f in range(1, WC_FILES + 1)]
    os.makedirs(f"{dest}/corpus")
    for f in range(WC_FILES):
        with open(f"{dest}/corpus/part-{f:03d}.txt", "wb") as fh:
            fh.write(buf[cuts[f]:cuts[f + 1]].tobytes())
    words = [chars[r, :length[r]].tobytes().decode() for r in used]
    return {"bytes": len(buf), "files": WC_FILES, "lines": n_lines,
            "tokens": WC_TOKENS, "distinct_words": int(len(used)),
            "tsv_digest": tsv_digest(words, counts[used])}


# --- query_mix -----------------------------------------------------------

def _write_table(path, table):
    pq.write_table(table, path, compression="snappy")


def gen_query_mix(seed, dest):
    rng = np.random.default_rng([QM_DATA_SEED, 3])
    os.makedirs(f"{dest}/tables")
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = QM_DAYS * 86400 * 10**6
    # distinct microsecond timestamps, ascending with event_id: sorted
    # uniform offsets plus their rank
    off = np.sort(rng.integers(0, span - QM_EVENTS, QM_EVENTS)) + np.arange(QM_EVENTS)
    value = np.round(rng.exponential(QM_VALUE_MEAN, QM_EVENTS), 2)
    events = pa.table({
        "event_id": pa.array(np.arange(QM_EVENTS, dtype=np.int64)),
        # TIMESTAMP(MICROS) with isAdjustedToUTC=false, as in the sf tables
        "ts": pa.array((start + off).astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, QM_USERS, QM_EVENTS).astype(np.int64)),
        "event_type": pa.array([QM_EVENT_TYPES[i] for i in
                                rng.integers(0, len(QM_EVENT_TYPES), QM_EVENTS)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, QM_PROPS_K, QM_EVENTS)]),
    })
    _write_table(f"{dest}/tables/events.parquet", events)
    lo, hi = QM_DOC_WORDS
    texts = [" ".join(QM_VOCAB[j] for j in
                      rng.integers(0, len(QM_VOCAB), int(rng.integers(lo, hi + 1))))
             for _ in range(QM_DOCS)]
    # near-duplicates: a copy of another document plus one word; a copy
    # made from an earlier copy carries the word twice
    for i in np.sort(rng.choice(QM_DOCS, int(QM_DOCS * QM_DUP_FRAC), replace=False)):
        j = int(rng.integers(0, QM_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(QM_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([QM_LANGS[i] for i in
                          rng.choice(len(QM_LANGS), QM_DOCS, p=QM_LANG_P)]),
        "source": pa.array([f"src{i % QM_SOURCES}" for i in range(QM_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write_table(f"{dest}/tables/documents.parquet", docs)
    n_bytes = sum(os.path.getsize(f"{dest}/tables/{f}")
                  for f in os.listdir(f"{dest}/tables"))
    return {"bytes": n_bytes, "files": 2, "events": QM_EVENTS,
            "documents": QM_DOCS}


GENERATORS = {"wordcount": gen_wordcount, "query_mix": gen_query_mix}


def generate(workload, seed, dest):
    """Write the inputs of `workload` for `seed` into the new directory
    `dest` and return its manifest."""
    os.makedirs(dest)
    manifest = GENERATORS[workload](seed, dest)
    manifest.update({"workload": workload, "seed": seed, "version": VERSION})
    with open(f"{dest}/manifest.json", "w") as fh:
        json.dump(manifest, fh)
    return manifest


def cached(workload, seed, root, keep=2):
    """The inputs of `workload` for `seed` under `root`, generated on first
    use. Only the `keep` most recently used seeds of a workload stay."""
    dest = f"{root}/{workload}-{seed}"
    try:
        with open(f"{dest}/manifest.json") as fh:
            manifest = json.load(fh)
        if manifest.get("version") == VERSION:
            os.utime(dest)
            return dest, manifest
    except (OSError, ValueError):
        pass
    shutil.rmtree(dest, ignore_errors=True)
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = generate(workload, seed, tmp)
    os.rename(tmp, dest)
    others = sorted((d for d in os.listdir(root)
                     if d.startswith(f"{workload}-") and d != os.path.basename(dest)
                     and ".tmp" not in d),
                    key=lambda d: os.path.getmtime(f"{root}/{d}"), reverse=True)
    for d in others[keep - 1:]:
        shutil.rmtree(f"{root}/{d}", ignore_errors=True)
    return dest, manifest


if __name__ == "__main__":
    w, s, d = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps({k: v for k, v in generate(w, s, d).items()
                      if not isinstance(v, (list, dict))}))
