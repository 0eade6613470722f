"""Seeded input generators for the three benchmark workloads.

Each generator writes parquet in the schema Graft reads
(`documents.parquet` or `embeddings.parquet`) plus `truth.json`, the
planted facts the output checks compare against. The same (seed, size)
always yields byte-identical inputs, so the inputs are cached per
(workload, seed, size) under the build directory.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32())])

# Workload sizes. Each input is a few MB at most, small next to the
# 2 GiB driver heap, on purpose: at these sizes Graft's time goes to
# per-job driver cost, planning and the fixpoint round structure (where
# the sf0.1 suite's floor sits), and one run (set-up, build, request
# set) fits in about 30-45 s on 4 cores. The assemble corpus is as
# small as keeps genome reads above the low-coverage threshold.
SIZES = {
    "assemble": {"chromosomes": 6, "genome_tokens": 3000},
    "curate": {"docs": 600},
    "ann_serve": {"vectors": 8000, "dim": 64, "clusters": 24,
                  "query_batches": 64, "batch_size": 8, "warmup_batches": 1},
}


# requests per run cycle through this many seeded lookup keys
LOOKUPS = 64


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _write_docs(path, rows):
    ids, texts, langs, sources = zip(*rows)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)
    pq.write_table(table, path)


# ---------------------------------------------------------------- assemble

SYLLABLES = ["ka", "to", "ri", "ne", "su"]
VOCAB_WORDS = 60


def _assemble_vocab(rng):
    # words of 2-3 syllables over a small syllable set: char 8-mers
    # recur across the corpus (so genome reads sit above the
    # low-coverage threshold) while 2-4 word boundary keys stay rare
    words = set()
    while len(words) < VOCAB_WORDS:
        n = int(rng.integers(2, 4))
        words.add("".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n)))
    return sorted(words)


def _junk_word(rng):
    # letters outside the syllable alphabet: k-mers seen once or twice
    return "".join(chr(ord("a") + int(c)) for c in rng.integers(0, 26, 7))


def gen_assemble(seed, out):
    """Reads tiled from a seeded random token genome.

    Consecutive reads of a chromosome overlap by 2-4 tokens (the keys
    GraphOps.q17BestOverlap matches). Planted artefacts give every
    cleaning phase something to remove: substitution-error copies
    (bubbles for the pop phase), end-error copies (tips), chimeras
    (cross links for the chimeric cut), junk-interior copies (low
    coverage), and a read copied into a second chromosome (repeat
    boundaries)."""
    size = SIZES["assemble"]
    rng = np.random.default_rng(seed)
    vocab = _assemble_vocab(rng)
    chroms = []
    for _ in range(size["chromosomes"]):
        genome = [vocab[i] for i in rng.integers(0, len(vocab), size["genome_tokens"])]
        reads, s = [], 0
        while True:
            length = int(rng.integers(24, 37))
            if s + length > len(genome):
                break
            reads.append(genome[s:s + length])
            s += length - int(rng.integers(2, 5))
        chroms.append(reads)

    # repeats: copy a read of chromosome a between two reads of chromosome b
    n_repeats = 0
    for a in range(0, len(chroms) - 1, 2):
        b = a + 1
        y = chroms[a][int(rng.integers(2, len(chroms[a]) - 2))]
        k = int(rng.integers(2, len(chroms[b]) - 3))
        o1, o2 = int(rng.integers(2, 5)), int(rng.integers(2, 5))
        chroms[b][k] = chroms[b][k] + y[:o1]
        chroms[b][k + 1] = y[-o2:] + chroms[b][k + 1]
        chroms[b].insert(k + 1, list(y))
        n_repeats += 1

    genome_reads = [(c, i, r) for c, reads in enumerate(chroms) for i, r in enumerate(reads)]
    texts = [" ".join(r) for _, _, r in genome_reads]
    planted = {"dup": 0, "bubble": 0, "tip": 0, "chimera": 0, "junk": 0}
    extra = []
    for c, i, r in genome_reads:
        u = rng.random()
        if u < 0.04:
            extra.append(list(r)); planted["dup"] += 1
        elif u < 0.08:
            v = list(r); j = int(rng.integers(6, len(v) - 6))
            v[j] = vocab[int(rng.integers(0, len(vocab)))]
            extra.append(v); planted["bubble"] += 1
        elif u < 0.11:
            v = list(r); v[-1] = _junk_word(rng)
            extra.append(v); planted["tip"] += 1
        elif u < 0.13:
            v = r[:4] + [_junk_word(rng) for _ in range(len(r) - 8)] + r[-4:]
            extra.append(v); planted["junk"] += 1
        elif u < 0.14:
            c2, _, r2 = genome_reads[int(rng.integers(0, len(genome_reads)))]
            if c2 != c:
                extra.append(r[:len(r) // 2] + r2[len(r2) // 2:]); planted["chimera"] += 1
    texts += [" ".join(v) for v in extra]

    # doc ids are a seeded permutation, so no phase can lean on id order
    ids = rng.permutation(len(texts))
    rows = [(int(ids[n]), t, "en", f"chr{n % 7}") for n, t in enumerate(texts)]
    rows.sort()
    os.makedirs(out, exist_ok=True)
    _write_docs(os.path.join(out, "documents.parquet"), rows)
    adjacent = []
    n = 0
    for reads in chroms:
        for i in range(len(reads) - 1):
            adjacent.append([texts[n + i], texts[n + i + 1]])
        n += len(reads)
    # lookup requests: genome reads, in a seeded order
    picks = rng.choice(len(genome_reads), LOOKUPS, replace=False)
    _write_lines(os.path.join(out, "lookups.txt"), [texts[int(i)] for i in picks])
    return {"docs": len(rows), "genome_reads": len(genome_reads),
            "repeats": n_repeats, "planted": planted, "adjacent": adjacent}


# ------------------------------------------------------------------ curate

LANGS = ["en", "de", "fr", "es", "zh"]
DOC_WORDS = (20, 50)


def gen_curate(seed, out):
    """A Zipf-vocabulary corpus with planted redundancy: exact copies,
    near-duplicate families (copies with a few substituted words) and
    quoted excerpts (a contiguous span of another doc). Languages draw
    from rank-shifted vocabularies, so DSIR weights differ by doc."""
    size = SIZES["curate"]
    rng = np.random.default_rng(seed)
    words = sorted({"".join(chr(ord("a") + int(c)) for c in rng.integers(0, 26, int(rng.integers(3, 9))))
                    for _ in range(6000)})
    zipf = 1.0 / np.arange(1, len(words) + 1) ** 1.05
    zipf /= zipf.sum()
    perms = {lang: rng.permutation(len(words)) for lang in LANGS}
    base = []
    n_base = int(size["docs"] * 0.82)
    for _ in range(n_base):
        lang = LANGS[int(rng.choice(5, p=[0.45, 0.15, 0.15, 0.15, 0.10]))]
        n = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
        toks = [words[perms[lang][r]] for r in rng.choice(len(words), n, p=zipf)]
        base.append((toks, lang))
    kinds = []  # (kind, index of the base doc) per planted doc
    docs = list(base)
    while len(docs) < size["docs"]:
        src = int(rng.integers(0, n_base))
        toks, lang = base[src]
        u = rng.random()
        if u < 0.3:
            docs.append((list(toks), lang)); kinds.append(("exact", src))
        elif u < 0.65:
            v = list(toks)
            for j in rng.choice(len(v), max(1, len(v) // 40), replace=False):
                v[j] = words[int(rng.integers(0, len(words)))]
            docs.append((v, lang)); kinds.append(("near", src))
        else:
            n = int(rng.integers(len(toks) // 3, len(toks) // 2 + 1))
            s = int(rng.integers(0, len(toks) - n + 1))
            docs.append((toks[s:s + n], lang)); kinds.append(("quote", src))
    planted = {k: sum(1 for kind, _ in kinds if kind == k) for k in ("exact", "near", "quote")}
    ids = rng.permutation(len(docs))
    rows = sorted((int(ids[n]), " ".join(t), lang, f"src{n % 11}")
                  for n, (t, lang) in enumerate(docs))
    os.makedirs(out, exist_ok=True)
    _write_docs(os.path.join(out, "documents.parquet"), rows)
    # verdict requests: batches of 8 docs, half of them docs the quote
    # scrub must drop (an excerpt, or the higher id of an exact copy
    # pair: the scrub keeps the lower), half drawn from the whole corpus
    redundant = sorted({int(ids[n]) if kind == "quote" else int(max(ids[n], ids[src]))
                        for n, (kind, src) in enumerate(kinds, start=n_base) if kind != "near"})
    batches = []
    for _ in range(LOOKUPS):
        pick = list(rng.choice(redundant, 4, replace=False)) + list(rng.choice(len(docs), 4, replace=False))
        batches.append(",".join(str(int(i)) for i in pick))
    _write_lines(os.path.join(out, "lookups.txt"), batches)
    return {"docs": len(rows), "planted": planted, "redundant": redundant}


# --------------------------------------------------------------- ann_serve

def _write_vectors(path, ids, vecs, labels):
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }, schema=EMB_SCHEMA)
    pq.write_table(table, path)


def gen_ann_serve(seed, out):
    """Gaussian-mixture vectors with uneven cluster sizes (Zipf-like
    weights), plus held-out query batches drawn from the same mixture.
    Corpus order is shuffled, so the first vectors the IVF trainer seeds
    its centroids from are a random sample."""
    size = SIZES["ann_serve"]
    rng = np.random.default_rng(seed)
    dim, k = size["dim"], size["clusters"]
    centers = rng.normal(0.0, 1.0, (k, dim))
    weights = 1.0 / np.arange(1, k + 1) ** 0.8
    weights /= weights.sum()
    spread = rng.uniform(0.35, 0.7, k)

    def draw(n):
        lab = rng.choice(k, n, p=weights)
        return centers[lab] + rng.normal(0.0, 1.0, (n, dim)) * spread[lab, None], lab

    vecs, labels = draw(size["vectors"])
    os.makedirs(out, exist_ok=True)
    _write_vectors(os.path.join(out, "embeddings.parquet"),
                   np.arange(size["vectors"]), vecs, labels)
    # query ids live far above corpus ids: the serve kernel drops a
    # result equal to its own query id
    qdir = os.path.join(out, "queries")
    os.makedirs(qdir, exist_ok=True)
    n_batches = size["query_batches"] + size["warmup_batches"]
    for b in range(n_batches):
        q, lab = draw(size["batch_size"])
        ids = 10_000_000 + b * size["batch_size"] + np.arange(size["batch_size"])
        name = f"batch_{b:03d}" if b < size["query_batches"] else f"warmup_{b:03d}"
        _write_vectors(os.path.join(qdir, name + ".parquet"), ids, q, lab)
    # the warm-up index trains on a separate slice so the measured
    # build still starts from an empty artifact scratch
    wdir = os.path.join(out, "warmup")
    os.makedirs(wdir, exist_ok=True)
    wv, wl = draw(1000)
    _write_vectors(os.path.join(wdir, "embeddings.parquet"), np.arange(1000), wv, wl)
    return {"vectors": size["vectors"], "query_batches": size["query_batches"],
            "batch_size": size["batch_size"]}


def size_key(workload):
    """Short digest of a workload's size, part of its input cache key."""
    return hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True).encode()).hexdigest()[:10]


GENERATORS = {"assemble": gen_assemble, "curate": gen_curate, "ann_serve": gen_ann_serve}


def generate(workload, seed, out):
    truth = GENERATORS[workload](seed, out)
    truth.update({"workload": workload, "seed": seed, "size": SIZES[workload]})
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{','.join(GENERATORS)}}} <seed> <out_dir>")
    t = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: v for k, v in t.items() if k != "adjacent"}))
