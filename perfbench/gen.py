"""Seeded, Spark-free input generator for the graft benchmark.

Genomic inputs (one call to `genomic`):
  tax/nodes.dmp, tax/names.dmp   root -> G genera -> S species each
  library.fna, labels.tsv        one genome per species, each diverged from
                                 its genus ancestor
  reads.fastq                    multi-sample single-end reads (header
                                 S<sample>_<n>), Zipf-skewed abundance,
                                 a share of reads drawn from no genome
  reads_1.fastq, reads_2.fastq   the same reads as R1/R2 mates (paired=True)
  truth.tsv                      read id -> source species (0 = no genome)

Text inputs (`corpus`): docs.parquet (doc_id, text) with planted exact
copies, near-copies above and below the near-dup threshold, and
low-quality (too short) documents; truth.json holds the planted counts.

The same (seed, params) always gives byte-identical files. Outputs are
cached under a directory keyed by both, so repeated runs do not pay for
generation.
"""
import hashlib
import json
import os
import shutil

import numpy as np

VERSION = 2
KEEP = 8
ACGT = np.frombuffer(b"ACGT", dtype=np.uint8)
GENUS_BASE = 100
SPECIES_BASE = 1000


def cache_dir(root, kind, seed, params):
    key = json.dumps({"v": VERSION, "kind": kind, "seed": seed, "p": params},
                     sort_keys=True)
    return os.path.join(root, kind + "-" + hashlib.sha1(key.encode()).hexdigest()[:16])


def _done(d):
    if not os.path.exists(os.path.join(d, "DONE")):
        return False
    os.utime(d)  # most recently used
    return True


def _mark(d, info):
    with open(os.path.join(d, "DONE"), "w") as f:
        json.dump(info, f, sort_keys=True)
    # bound the cache: keep the most recently used input sets only
    root = os.path.dirname(d)
    dirs = sorted(os.listdir(root), key=lambda x: os.path.getmtime(os.path.join(root, x)))
    for old in dirs[:-KEEP]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)


def species_ids(p):
    return [SPECIES_BASE + g * p["species"] + s
            for g in range(p["genera"]) for s in range(p["species"])]


def genus_of(taxon, p):
    return GENUS_BASE + (taxon - SPECIES_BASE) // p["species"]


def _mutate(rng, seq, rate):
    """Substitute each base with probability `rate` by one of the other three."""
    hit = rng.random(seq.shape) < rate
    shift = rng.integers(1, 4, size=seq.shape, dtype=np.uint8)
    return np.where(hit, (seq + shift) % 4, seq).astype(np.uint8)


def _fastq(path, names, codes):
    qual = b"I" * codes.shape[1]
    text = ACGT[codes]
    with open(path, "wb") as f:
        f.write(b"".join(b"@%s\n%s\n+\n%s\n" % (n, text[i].tobytes(), qual)
                         for i, n in enumerate(names)))


def genomic(root, seed, p):
    """p: genera, species, genome_len, divergence, samples, reads_per_sample,
    read_len, error_rate, zipf, foreign_share, paired, insert."""
    d = cache_dir(root, "genomic", seed, p)
    if _done(d):
        return d
    os.makedirs(os.path.join(d, "tax"), exist_ok=True)
    rng = np.random.default_rng(seed)
    taxa = species_ids(p)
    genera = [GENUS_BASE + g for g in range(p["genera"])]

    with open(os.path.join(d, "tax", "nodes.dmp"), "w") as f:
        f.write("1\t|\t1\t|\tno rank\t|\n")
        f.writelines("%d\t|\t1\t|\tgenus\t|\n" % g for g in genera)
        f.writelines("%d\t|\t%d\t|\tspecies\t|\n" % (t, genus_of(t, p)) for t in taxa)
    with open(os.path.join(d, "tax", "names.dmp"), "w") as f:
        f.write("1\t|\troot\t|\t\t|\tscientific name\t|\n")
        f.writelines("%d\t|\tgenus %d\t|\t\t|\tscientific name\t|\n" % (g, g)
                     for g in genera)
        f.writelines("%d\t|\tspecies %d\t|\t\t|\tscientific name\t|\n" % (t, t)
                     for t in taxa)

    L = p["genome_len"]
    genomes = np.empty((len(taxa), L), dtype=np.uint8)
    for g in range(p["genera"]):
        ancestor = rng.integers(0, 4, size=L, dtype=np.uint8)
        for s in range(p["species"]):
            genomes[g * p["species"] + s] = _mutate(rng, ancestor, p["divergence"])
    with open(os.path.join(d, "library.fna"), "wb") as f:
        for i, t in enumerate(taxa):
            seq = ACGT[genomes[i]].tobytes()
            f.write(b">g%d\n" % t)
            f.write(b"\n".join(seq[j:j + 80] for j in range(0, L, 80)) + b"\n")
    with open(os.path.join(d, "labels.tsv"), "w") as f:
        f.writelines("g%d\t%d\n" % (t, t) for t in taxa)

    rl, n = p["read_len"], p["reads_per_sample"]
    frag = p["insert"] if p["paired"] else rl
    names, r1s, r2s, truth = [], [], [], []
    ranks = np.arange(1, len(taxa) + 1, dtype=np.float64) ** -p["zipf"]
    for sample in range(p["samples"]):
        # each sample has its own abundance order over the same species
        weights = np.empty(len(taxa))
        weights[rng.permutation(len(taxa))] = ranks / ranks.sum()
        src = rng.choice(len(taxa), size=n, p=weights)
        foreign = rng.random(n) < p["foreign_share"]
        starts = rng.integers(0, L - frag + 1, size=n)
        fragments = genomes[src[:, None], starts[:, None] + np.arange(frag)]
        fragments[foreign] = rng.integers(0, 4, size=(int(foreign.sum()), frag),
                                          dtype=np.uint8)
        flip = rng.random(n) < 0.5
        fragments[flip] = 3 - fragments[flip, ::-1]
        r1s.append(_mutate(rng, fragments[:, :rl], p["error_rate"]))
        if p["paired"]:
            r2s.append(_mutate(rng, 3 - fragments[:, ::-1][:, :rl], p["error_rate"]))
        for i in range(n):
            names.append(b"S%d_%d" % (sample, i))
            truth.append(0 if foreign[i] else taxa[src[i]])
    r1 = np.concatenate(r1s)
    _fastq(os.path.join(d, "reads.fastq"), names, r1)
    if p["paired"]:
        r2 = np.concatenate(r2s)
        _fastq(os.path.join(d, "reads_1.fastq"), [x + b"/1" for x in names], r1)
        _fastq(os.path.join(d, "reads_2.fastq"), [x + b"/2" for x in names], r2)
    with open(os.path.join(d, "truth.tsv"), "wb") as f:
        f.write(b"".join(b"%s\t%d\n" % (nm, t) for nm, t in zip(names, truth)))
    _mark(d, {"reads": len(names), "bases": len(names) * rl * (2 if p["paired"] else 1)})
    return d


# ---------------------------------------------------------------- text

def _shingles(words, n=3):
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _near_copy(rng, words, vocab, lo, hi):
    """Replace words at random positions until the 3-shingle Jaccard with
    the original falls into [lo, hi]."""
    out = list(words)
    while True:
        j = jaccard(words, out)
        if j < lo:
            out = list(words)
            continue
        if j <= hi:
            return out, j
        out[int(rng.integers(len(out)))] = vocab[int(rng.integers(len(vocab)))]


def corpus(root, seed, p):
    """p: docs, doc_words, vocab, exact_copies, near_high, near_low,
    low_quality. near_high copies sit at Jaccard 0.80-0.95, near_low at
    0.40-0.55, so a 0.7 threshold must drop the first and keep the second."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = cache_dir(root, "corpus", seed, p)
    if _done(d):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    vocab = [letters[rng.integers(0, 26, size=int(rng.integers(3, 10)))].tobytes().decode()
             for _ in range(p["vocab"])]
    base = [[vocab[i] for i in rng.integers(0, len(vocab), size=p["doc_words"])]
            for _ in range(p["docs"])]
    texts = [" ".join(w) for w in base]
    picks = rng.permutation(p["docs"])
    k = 0
    for _ in range(p["exact_copies"]):
        texts.append(texts[picks[k]]); k += 1
    pairs = []
    for lo, hi, cnt in ((0.80, 0.95, p["near_high"]), (0.40, 0.55, p["near_low"])):
        for _ in range(cnt):
            words, j = _near_copy(rng, base[picks[k]], vocab, lo, hi)
            texts.append(" ".join(words))
            pairs.append([int(picks[k]) + 1, len(texts), round(j, 4)])
            k += 1
    for _ in range(p["low_quality"]):
        texts.append(" ".join(vocab[i] for i in rng.integers(0, len(vocab), size=3)))
    ids = np.arange(1, len(texts) + 1, dtype=np.int64)
    pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                   os.path.join(d, "docs.parquet"), compression="snappy")
    truth = {k2: p[k2] for k2 in ("exact_copies", "near_high", "near_low", "low_quality")}
    truth["input"] = len(texts)
    truth["bytes"] = sum(len(t) for t in texts)
    truth["near_pairs"] = pairs
    with open(os.path.join(d, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    _mark(d, truth)
    return d
