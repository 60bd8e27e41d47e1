"""Seeded input generators for the three benchmark workloads.

Every input is a function of (workload, seed) only: the same seed writes
byte-identical files. The engine never sees this module, only the files it
writes. Each generator returns a small dict describing the input shape, which
the benchmark records in its evidence file.

Run alone:  python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = "abcdefghijklmnopqrstuvwxyz"
VOWELS = "aeiou"
CONSONANTS = "bcdfghjklmnpqrstvwxyz"

# ----------------------------------------------------------------- sizes
# Chosen so that one pass takes seconds on local[4], well above Spark's
# fixed per-job cost (see NOTES.md for the measured pass times).
INDEX_FILES = 40
INDEX_TOKENS = 400_000
INDEX_VOCAB = 40_000

DEDUP_BACKGROUND_DOCS = 400
DEDUP_CLUSTERS = 40
DEDUP_VOCAB = 10_000
EMB_VECTORS = 1_000
EMB_DIM = 64
EMB_CLUSTERS = 40

CHURN_BASE_DOCS = 1_000
CHURN_VOCAB = 20_000
CHURN_ROUNDS = 24
CHURN_DELTA_DOCS = 40
CHURN_VICTIMS = 20
CHURN_BURST = 25

# substitution rates of planted near-dup members: true Jaccard falls on both
# sides of the 0.5 (MinHash, 3-shingles) and 0.3 (n-gram, 2-shingles)
# thresholds, and the 0.0/0.01 rates give SimHash (Hamming <= 3) its pairs
EDIT_RATES = [0.0, 0.01, 0.03, 0.06, 0.1, 0.15, 0.2, 0.3, 0.45]


def vocabulary(rng, n, absent=()):
    """n distinct lowercase words; first letters follow a skewed (Zipf over a
    seeded letter order) distribution and letters in `absent` never start a
    word, so their letter files are empty."""
    letters = [l for l in LETTERS if l not in absent]
    order = rng.permutation(letters)
    w = 1.0 / np.arange(1, len(order) + 1) ** 0.9
    cons = np.array(list(CONSONANTS))
    vows = np.array(list(VOWELS))
    words, seen = [], set()
    while len(words) < n:
        m = 2 * (n - len(words)) + 16
        firsts = rng.choice(order, size=m, p=w / w.sum())
        lengths = rng.integers(3, 11, size=m)
        c = cons[rng.integers(0, len(cons), size=(m, 5))]
        v = vows[rng.integers(0, len(vows), size=(m, 5))]
        for i in range(m):
            body = "".join(a + b for a, b in zip(v[i], c[i]))[:lengths[i] - 1]
            wd = firsts[i] + body
            if wd not in seen and len(words) < n:
                seen.add(wd)
                words.append(wd)
    return words


def zipf_probs(n, a):
    w = 1.0 / (np.arange(n) + 2.7) ** a
    return w / w.sum()


def decorate(rng, word):
    """A surface form of `word`: mixed case, digits and punctuation inside the
    token. Normalization (keep letters, lowercase) maps most of them back to
    `word`; "'s" adds a letter, as in the reference (That's -> thats)."""
    k = rng.integers(0, 7)
    if k == 0:
        return word.capitalize()
    if k == 1:
        return word.upper()
    if k == 2:
        p = int(rng.integers(1, len(word)))
        return word[:p] + str(int(rng.integers(0, 100))) + word[p:]
    if k == 3:
        return word + ".,;:!?"[int(rng.integers(0, 6))]
    if k == 4:
        return word + "'s"
    if k == 5:
        p = int(rng.integers(1, len(word)))
        return word[:p] + "-" + word[p:]
    return ("1984", "--", "&", "42.0", "(7)")[int(rng.integers(0, 5))]


def write_lines(path, tokens, rng):
    """Tokens -> lines of 1..20 tokens, single spaces, the odd tab."""
    out, i, n = [], 0, len(tokens)
    while i < n:
        ln = int(rng.integers(1, 21))
        sep = "\t" if rng.random() < 0.05 else " "
        out.append(sep.join(tokens[i:i + ln]))
        i += ln
    data = ("\n".join(out) + "\n").encode("ascii")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# ------------------------------------------------------------ index_build

def gen_index_build(seed, out):
    rng = np.random.default_rng([seed, 1])
    absent = tuple(rng.choice(list(LETTERS), size=2, replace=False))
    vocab = np.array(vocabulary(rng, INDEX_VOCAB, absent), dtype=object)
    probs = zipf_probs(len(vocab), 1.07)
    # mixed file sizes: lognormal token counts, a few tiny files
    sizes = rng.lognormal(0.0, 1.0, INDEX_FILES)
    sizes[rng.choice(INDEX_FILES, 4, replace=False)] = 0.0005
    counts = np.maximum(1, (sizes / sizes.sum() * INDEX_TOKENS).astype(int))
    os.makedirs(os.path.join(out, "files"), exist_ok=True)
    names, total_bytes = [], 0
    for fi, c in enumerate(counts):
        toks = list(vocab[rng.choice(len(vocab), size=int(c), p=probs)])
        for j in np.nonzero(rng.random(len(toks)) < 0.08)[0]:
            toks[j] = decorate(rng, toks[j])
        name = "files/doc%04d.txt" % fi
        total_bytes += write_lines(os.path.join(out, name), toks, rng)
        names.append(name)
    with open(os.path.join(out, "manifest.txt"), "w") as f:
        f.write("%d\n%s\n" % (len(names), "\n".join(names)))
    return {"files": len(names), "tokens": int(counts.sum()), "bytes": total_bytes,
            "vocabulary": len(vocab), "absent_letters": "".join(sorted(absent)),
            "max_file_tokens": int(counts.max()), "min_file_tokens": int(counts.min())}


# ---------------------------------------------------------- neardup_dedup

def gen_neardup_dedup(seed, out):
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(vocabulary(rng, DEDUP_VOCAB), dtype=object)
    probs = zipf_probs(len(vocab), 1.0)

    def doc(n):
        toks = list(vocab[rng.choice(len(vocab), size=n, p=probs)])
        for j in np.nonzero(rng.random(n) < 0.03)[0]:
            toks[j] = toks[j].capitalize()
        return toks

    texts, clusters = [], []
    for _ in range(DEDUP_BACKGROUND_DOCS):
        texts.append(doc(int(rng.integers(40, 260))))
    for _ in range(DEDUP_CLUSTERS):
        base = doc(int(rng.integers(60, 220)))
        members = [len(texts)]
        texts.append(base)
        for _ in range(int(rng.integers(1, 5))):
            e = EDIT_RATES[int(rng.integers(0, len(EDIT_RATES)))]
            m = list(base)
            repl = vocab[rng.choice(len(vocab), size=len(m), p=probs)]
            for j in np.nonzero(rng.random(len(m)) < e)[0]:
                m[j] = repl[j]
            members.append(len(texts))
            texts.append(m)
        clusters.append(members)
    # shuffle doc ids so cluster members are not adjacent
    perm = rng.permutation(len(texts))
    ids = np.empty(len(texts), dtype=np.int64)
    ids[perm] = np.arange(len(texts))
    ordered = [None] * len(texts)
    for old, new in enumerate(ids):
        ordered[new] = " ".join(texts[old])
    clusters = [sorted(int(ids[m]) for m in c) for c in clusters]
    langs = np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, len(ordered))]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(ordered), dtype=np.int64)),
        "text": pa.array(ordered),
        "lang": pa.array(list(langs)),
        "source": pa.array(["src%d" % (i % 7) for i in range(len(ordered))]),
        "n_chars": pa.array([len(t) for t in ordered], type=pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    # clustered embeddings: unit centres, per-cluster spread, plus planted
    # near-identical pairs; cosine 0.95 cuts through most clusters
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    spread = rng.uniform(0.018, 0.05, EMB_CLUSTERS)
    lab = rng.integers(0, EMB_CLUSTERS, EMB_VECTORS)
    vec = centres[lab] + rng.normal(size=(EMB_VECTORS, EMB_DIM)) * spread[lab, None]
    twins = rng.choice(EMB_VECTORS, size=(EMB_VECTORS // 40, 2), replace=False)
    vec[twins[:, 1]] = vec[twins[:, 0]] + rng.normal(size=(len(twins), EMB_DIM)) * 0.004
    lab[twins[:, 1]] = lab[twins[:, 0]]
    vec = vec.astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(EMB_VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    }), os.path.join(out, "embeddings.parquet"))

    planted = sum(len(c) * (len(c) - 1) // 2 for c in clusters)
    with open(os.path.join(out, "planted.txt"), "w") as f:
        f.write("".join(" ".join(map(str, c)) + "\n" for c in clusters))
    return {"docs": len(ordered), "bytes": sum(len(t) for t in ordered),
            "vocabulary": len(vocab), "planted_clusters": len(clusters),
            "planted_pairs": planted, "vectors": EMB_VECTORS, "dim": EMB_DIM,
            "vector_clusters": EMB_CLUSTERS}


# ------------------------------------------------------ index_store_churn

def gen_index_store_churn(seed, out):
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(vocabulary(rng, CHURN_VOCAB), dtype=object)
    probs = zipf_probs(len(vocab), 1.05)
    first = np.array([w[0] for w in vocab])
    by_letter = {l: np.nonzero(first == l)[0] for l in LETTERS if (first == l).any()}
    next_id = [1]

    def docs(n, word_ids=None):
        rows = []
        for _ in range(n):
            ln = int(rng.integers(30, 160))
            if word_ids is None:
                idx = rng.choice(len(vocab), size=ln, p=probs)
            else:
                p = probs[word_ids] / probs[word_ids].sum()
                idx = word_ids[rng.choice(len(word_ids), size=ln, p=p)]
            toks = list(vocab[idx])
            for j in np.nonzero(rng.random(ln) < 0.05)[0]:
                toks[j] = decorate(rng, toks[j])
            rows.append((next_id[0], " ".join(toks)))
            next_id[0] += 1
        return rows

    def write(rows, name):
        pq.write_table(pa.table({
            "file_id": pa.array([r[0] for r in rows], type=pa.int32()),
            "value": pa.array([r[1] for r in rows]),
        }), os.path.join(out, name))

    base = docs(CHURN_BASE_DOCS)
    write(base, "base.parquet")
    text = dict(base)
    live = set(text)
    letters = sorted(by_letter)
    hot = list(vocab[:40])
    spreads = []
    for r in range(CHURN_ROUNDS):
        if r % 2 == 0:  # broad batch: the whole vocabulary, all letters
            delta = docs(CHURN_DELTA_DOCS)
        else:           # topical batch: words from 2-3 letters only
            pick = rng.choice(letters, size=int(rng.integers(2, 4)), replace=False)
            delta = docs(CHURN_DELTA_DOCS, np.concatenate([by_letter[l] for l in pick]))
        write(delta, "delta_%02d.parquet" % r)
        spreads.append(len(first_letters(t for _, t in delta)))
        text.update(delta)
        live |= {d[0] for d in delta}
        victims = sorted(rng.choice(sorted(live), size=CHURN_VICTIMS, replace=False).tolist())
        live -= set(victims)
        write([(v, text[v]) for v in victims], "victims_%02d.parquet" % r)
        with open(os.path.join(out, "lookups_%02d.txt" % r), "w") as f:
            f.write("".join(" ".join(burst(rng, vocab, hot)) + "\n" for _ in range(2)))
    return {"base_docs": len(base), "rounds": CHURN_ROUNDS, "delta_docs": CHURN_DELTA_DOCS,
            "victims_per_round": CHURN_VICTIMS, "lookups_per_round": 2 * CHURN_BURST,
            "vocabulary": len(vocab), "delta_letter_spread": spreads,
            "bytes": sum(len(t) for _, t in base)}


def first_letters(texts):
    """Distinct first letters of the normalized words of `texts`."""
    out = set()
    for t in texts:
        for tok in t.split():
            w = "".join(ch for ch in tok if ch.isascii() and ch.isalpha())
            if w:
                out.add(w[0].lower())
    return out


def burst(rng, vocab, hot):
    """A lookup burst: a third hot words, a third tail words, a third misses
    (lowercase letter strings outside the vocabulary)."""
    words = []
    for i in range(CHURN_BURST):
        k = i % 3
        if k == 0:
            words.append(hot[int(rng.integers(0, len(hot)))])
        elif k == 1:
            words.append(str(vocab[int(rng.integers(len(vocab) // 2, len(vocab)))]))
        else:
            words.append(LETTERS[int(rng.integers(0, 26))] + "q" * int(rng.integers(3, 6)) + "zx")
    return words


GENERATORS = {
    "index_build": gen_index_build,
    "neardup_dedup": gen_neardup_dedup,
    "index_store_churn": gen_index_store_churn,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    shape = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "shape.json"), "w") as f:
        json.dump(shape, f)
    return shape


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
