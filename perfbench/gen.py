"""Seeded input generators for the benchmark's workloads.

Each generator writes one workload's inputs for one seed into a directory
and a `sizes.json` stating what it made. The same seed gives the same
inputs. `signal_lookup`'s warehouse is written by the harness itself
(through the program's `Io.writeSignal`), so it is not here.
"""
import json
import random
import shutil
from collections import defaultdict
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
TEMPLATE = HERE / "data" / "sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

P = 1000000007
MIX = 2654435761


def id_digest(ids):
    """The harness's set digest of a long id column (count:sum:mixed sum)."""
    ids = list(ids)
    return f"{len(ids)}:{sum(ids)}:{sum((i * MIX) % P for i in ids)}"


def query_sample():
    """One query from every operator object of the query population, drawn
    once with a fixed seed. The sample is the same for every --seed, so
    runs on different seeds time the same work; the seed sets the order
    the queries run in."""
    by_obj = defaultdict(list)
    for line in (HERE / "queries.tsv").read_text().splitlines():
        if line and not line.startswith("#"):
            q, obj = line.split("\t")
            by_obj[obj].append(q)
    r = random.Random(0)
    return [(r.choice(by_obj[obj]), obj) for obj in sorted(by_obj)]


def gen_query_mix(seed, out):
    """The sf0.01 tables every query is oracle-checked on, the query
    sample, and the seed's order for it."""
    data = out / "data"
    data.mkdir(parents=True)
    sizes = {}
    for name in TABLES:
        shutil.copy(TEMPLATE / f"{name}.parquet", data / f"{name}.parquet")
        sizes[name] = pq.ParquetFile(data / f"{name}.parquet").metadata.num_rows
    sample = query_sample()
    random.Random(seed).shuffle(sample)
    (out / "sample.tsv").write_text("".join(f"{q}\t{o}\n" for q, o in sample))
    sizes["queries"] = len(sample)
    return sizes


def _words(rng, n, prefix):
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fi", "go"]
    out = set()
    while len(out) < n:
        out.add(prefix + "".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(out)


def _shingles(text):
    t = text.split(" ")
    return {tuple(t[i:i + 3]) for i in range(len(t) - 2)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    if not sa or not sb:
        return 0.0
    n = len(sa & sb)
    return n / (len(sa) + len(sb) - n)


def gen_corpus(seed, out, families=900, delta_files=6, delta_docs=150):
    """A near-duplicate document replica built from known families, and
    delta files for the streaming gate.

    Each family is a base document plus exact copies, near copies (one or
    two words replaced) and far copies (half the words replaced). Pair
    similarities are computed here exactly, with the program's word
    3-gram Jaccard, so the expected clusters and keepers (longest text,
    lowest id on ties) are known. Families draw from one vocabulary and
    share no 3-grams in practice; the expected clusters are checked
    against every within-family pair. Delta documents are exact copies of
    keepers (must be rejected), near copies (either verdict; it must only
    repeat), or novel text from a disjoint vocabulary (must be admitted)."""
    rng = random.Random(seed)
    vocab = _words(rng, 4000, "")
    stop = ["the", "a", "of", "and", "to", "in", "is", "it"]
    novel_vocab = _words(rng, 1000, "zq")

    def text(n, words):
        return " ".join(rng.choice(stop) if rng.random() < 0.2 else rng.choice(words)
                        for _ in range(n))

    def edit(t, k, words):
        toks = t.split(" ")
        for i in rng.sample(range(len(toks)), k):
            toks[i] = rng.choice(words)
        return " ".join(toks)

    docs = []  # (family, text)
    for f in range(families):
        base = text(rng.randint(30, 90), vocab)
        docs.append((f, base))
        for _ in range(rng.choice([0, 0, 1, 1, 2, 3])):
            u = rng.random()
            n = len(base.split(" "))
            if u < 0.3:
                docs.append((f, base))
            elif u < 0.8:
                docs.append((f, edit(base, rng.randint(1, 2), vocab)))
            else:
                docs.append((f, edit(base, n // 2, vocab)))
    ids = rng.sample(range(1, 1_000_000), len(docs))
    rows = sorted(zip(ids, docs), key=lambda x: rng.random())

    # expected clusters: union-find over within-family pairs at J >= 0.6
    parent = {i: i for i, _ in rows}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    fam = defaultdict(list)
    for i, (f, t) in rows:
        fam[f].append((i, t))
    for members in fam.values():
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                if _jaccard(members[a][1], members[b][1]) >= 0.6:
                    parent[find(members[a][0])] = find(members[b][0])
    best = {}
    for i, (_, t) in rows:
        c = find(i)
        if c not in best or (len(t), -i) > (len(best[c][1]), -best[c][0]):
            best[c] = (i, t)
    keepers = sorted(best.values())

    docdir = out / "docs"
    docdir.mkdir(parents=True)
    langs, sources = ["en", "de", "fr", "es"], ["web", "forum", "news"]
    for part in range(8):
        chunk = rows[part::8]
        pq.write_table(pa.table({
            "doc_id": pa.array([i for i, _ in chunk], pa.int64()),
            "text": [t for _, (_, t) in chunk],
            "lang": [rng.choice(langs) for _ in chunk],
            "source": [rng.choice(sources) for _ in chunk],
            "n_chars": pa.array([len(t) for _, (_, t) in chunk], pa.int64()),
        }), docdir / f"part-{part:05d}.parquet")

    deltadir = out / "deltas"
    deltadir.mkdir()
    reject, admit, all_ids = [], [], []
    next_id = 2_000_000
    for d in range(delta_files):
        batch = []
        for _ in range(delta_docs):
            u = rng.random()
            if u < 0.3:
                t = rng.choice(keepers)[1]
                reject.append(next_id)
            elif u < 0.6:
                t = edit(rng.choice(keepers)[1], 1, vocab)
            else:
                t = text(rng.randint(30, 90), novel_vocab)
                admit.append(next_id)
            batch.append((next_id, t))
            all_ids.append(next_id)
            next_id += 1
        pq.write_table(pa.table({
            "doc_id": pa.array([i for i, _ in batch], pa.int64()),
            "text": [t for _, t in batch],
            "lang": [rng.choice(langs) for _ in batch],
            "source": [rng.choice(sources) for _ in batch],
            "n_chars": pa.array([len(t) for _, t in batch], pa.int64()),
        }), deltadir / f"delta-{d:03d}.parquet")

    (out / "truth.tsv").write_text(
        f"keepers\t{id_digest(i for i, _ in keepers)}\n"
        f"keeper_tokens\t{sum(len(t.split(' ')) for _, t in keepers)}\n"
        f"delta_ids\t{','.join(map(str, all_ids))}\n"
        f"must_reject\t{','.join(map(str, reject))}\n"
        f"must_admit\t{','.join(map(str, admit))}\n")
    return {"docs": len(rows), "families": families, "clusters": len(keepers),
            "doc_files": 8, "delta_files": delta_files, "delta_docs": len(all_ids)}


GENERATORS = {"query_mix": gen_query_mix, "corpus_curation": gen_corpus}
