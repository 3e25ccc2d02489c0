"""Seeded input generators. The engine sees only the parquet files written
here; the same seed writes the same rows, and `sha256` over every generated
row (in generation order) is the run's input content hash.

Each table draws from its own numpy stream keyed by (seed, table), so one
table's size never shifts another's values.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the vocabulary of the reference `documents` table
DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
             "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
             "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window"]
LANGS = ["en", "en", "en", "en", "de", "fr", "es", "zh", "de", "fr"]
DUP_GROUP = 10  # tools.SemanticStressCorpus.DupGroup
VEC = pa.list_(pa.float32())


def rng(seed, table):
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, salt])


def unit(v):
    """Rows scaled to unit L2 norm, in float32."""
    n = np.sqrt((v.astype(np.float64) ** 2).sum(axis=1)).astype(np.float32)
    return (v / n[:, None]).astype(np.float32)


def write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def v3_corpus(out, seed, n_base, copies, h):
    """The `tools.V3Stress` corpus as `documents.parquet` and
    `embeddings.parquet` under `out`.

    The base has `n_base` documents of 10–99 words over the reference
    vocabulary (4 in 10 `en`) and unit-norm 64-d embeddings for the first
    `n_base · 2/5` ids. Per base doc V3Stress adds a 10-copy group (5 verbatim, 5 near dups
    with a marker suffix) and spliced filler up to `copies`; embeddings
    follow the same `id + i·10⁶` scheme as `tools.SemanticStressCorpus`
    (×2 for exact copies, `8v + partner` for near dups, the partner mean for
    filler). Returns the counts the planted-rate asserts need.
    """
    r = rng(seed, "documents")
    # lengths and languages are fixed multisets in seeded order, so every
    # seed's corpus has the same size and language mix
    lengths = r.permutation(10 + np.arange(n_base) * 90 // n_base)
    langs = r.permutation([LANGS[d % len(LANGS)] for d in range(n_base)])
    base = []
    for d in range(n_base):
        text = " ".join(DOC_VOCAB[w] for w in r.integers(0, len(DOC_VOCAB), lengths[d]))
        h.update(f"{d}\x01{text}\x01{langs[d]}\n".encode())
        base.append((text, str(langs[d])))
    ids, texts, langs = [], [], []
    for i in range(copies):
        for d, (text, lang) in enumerate(base):
            if i < DUP_GROUP // 2:
                t = text
            elif i < DUP_GROUP:
                t = f"{text} copymark{i}"
            else:  # Spark substring(text, 1, len/2) || substring(p, len(p)/2)
                p = base[(d + i * 131) % n_base][0]
                t = text[:len(text) // 2] + p[max(1, len(p) // 2) - 1:]
            ids.append(d + i * 1000000)
            texts.append(t)
            langs.append(lang)
    write(f"{out}/documents.parquet/part-0.parquet", {
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
        "source": [f"src{d % 1000000 % 20}" for d in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n_vec = n_base * 2 // 5
    vecs = unit(rng(seed, "embeddings").standard_normal((n_vec, 64)).astype(np.float32))
    h.update(vecs.tobytes())
    vid, emb = [], []
    for i in range(copies):
        part = vecs[(np.arange(n_vec) + i * 131) % n_vec]
        if i < DUP_GROUP // 2:
            e = vecs * np.float32(2)
        elif i < DUP_GROUP:
            e = vecs * np.float32(8) + part
        else:
            e = (vecs + part) * np.float32(0.5)
        vid.extend(range(i * 1000000, i * 1000000 + n_vec))
        emb.extend(e.tolist())
    write(f"{out}/embeddings.parquet/part-0.parquet", {
        "vec_id": pa.array(vid, pa.int64()), "embedding": pa.array(emb, VEC),
        "label": pa.array([v % 10 for v in vid], pa.int32())})
    twins = lambda xs: sum(1 for x in xs if x < 64 and x % 50 != 0)  # noqa: E731
    return {"docs": len(ids), "vecs": len(vid), "bench": sum(1 for x in ids if x % 50 == 0),
            "twins": twins(ids), "vtwins": twins(vid)}


def ingest_rounds(out, seed, rows, warm, staged, h):
    """The `tools.IngestLadder` recipe, seeded, staged one parquet file per
    round under `out`: `docs/r<k>.parquet` (doc_id, text, embedding) and the
    round's ANN batch `queries/r<k>.parquet` (vec_id, embedding), plus the
    index's base corpus `index_base.parquet` (2,000 vectors, ids from 5·10⁸).

    Docs are 80-word salad over a 2,000-word vocabulary with 64-d vectors.
    In each round 5 % re-use an earlier round's vector ×2 (a planted
    semantic dup) and 5 % repeat an earlier doc's leading 16-token window.
    Dup sources come only from earlier rounds, so a dup's verdict never
    depends on order within a batch. A batch has 32 queries; 8 are exact
    twins (×2 copies) of index-base vectors and of the round's fresh
    vectors, none of which has another same-direction copy. Rounds below
    `warm` are quarter-size warm-up slices. Returns each round's manifest.
    """
    r = rng(seed, "ingest")
    vocab = []
    for i in range(2000):
        s, x = "", i
        while len(s) < 3 + i % 8:
            s += chr(ord("a") + x % 26)
            x = x // 26 + 7
        vocab.append(s)

    def vecs(n):
        return (r.standard_normal((n, 64)) * 0.5).astype(np.float32)

    def text():
        return " ".join(vocab[w] for w in r.integers(0, 2000, 80))

    base_ids = np.arange(500000000, 500002000)
    base = vecs(2000)
    h.update(base.tobytes())
    write(f"{out}/index_base.parquet", {"vec_id": pa.array(base_ids, pa.int64()),
                                         "embedding": pa.array(base.tolist(), VEC)})
    bank_ids, bank, heads, manifest = [], [], [], []
    for k in range(warm + staged):
        n = rows // 4 if k < warm else rows
        ids, texts, emb, dups, fresh = [], [], [], [], []
        n_bank, n_heads = len(bank), len(heads)
        for i in range(n):
            did = k * 1000000 + i
            if i % 20 == 0 and n_bank:
                j = r.integers(0, n_bank)
                dups.append([did, bank_ids[j]])
                v = bank[j] * np.float32(2)
            else:
                v = vecs(1)[0]
                fresh.append((did, v))
            t = heads[r.integers(0, n_heads)] + " " + text() if i % 20 == 1 and n_heads else text()
            h.update(f"{did}\x01{t}\n".encode() + v.tobytes())
            ids.append(did)
            texts.append(t)
            emb.append(v)
        heads.extend(" ".join(t.split(" ")[:16]) for t in texts)
        targets = ([(int(base_ids[j]), base[j]) for j in r.integers(0, 2000, 4)]
                   + [fresh[j] for j in r.integers(0, len(fresh), 4)])
        qid = [900000000 + k * 1000 + j for j in range(32)]
        qvec = [v * np.float32(2) for _, v in targets] + list(vecs(24))
        bank_ids.extend(i for i, _ in fresh)
        bank.extend(v for _, v in fresh)
        write(f"{out}/docs/r{k}.parquet", {
            "doc_id": pa.array(ids, pa.int64()), "text": texts,
            "embedding": pa.array(np.stack(emb).tolist(), VEC)})
        write(f"{out}/queries/r{k}.parquet", {
            "vec_id": pa.array(qid, pa.int64()),
            "embedding": pa.array(np.stack(qvec).tolist(), VEC)})
        manifest.append({"round": k, "first_id": ids[0], "last_id": ids[-1], "sem_dups": dups,
                         "twins": [[q, t] for q, (t, _) in zip(qid, targets)]})
    return manifest


LLM_BASE_DOCS, LLM_COPIES = 400, 12
INGEST_ROWS, INGEST_WARM, INGEST_ROUNDS = 400, 2, 12


def generate(workload, out, seed):
    """Write `workload`'s inputs under `out`. Returns (sha256 hex, info,
    driver params): info feeds the output checks, params the driver JVM."""
    h = hashlib.sha256()
    if workload == "llm_v3":
        info = v3_corpus(f"{out}/corpus", seed, LLM_BASE_DOCS, LLM_COPIES, h)
        warm = v3_corpus(f"{out}/warm_corpus", seed, LLM_BASE_DOCS // 4, LLM_COPIES,
                         hashlib.sha256())
        params = {"docs": info["docs"], "vecs": info["vecs"], "warm-vecs": warm["vecs"]}
    else:
        info = {"rounds": ingest_rounds(f"{out}/staged", seed, INGEST_ROWS, INGEST_WARM,
                                        INGEST_ROUNDS, h)}
        params = {"rows": INGEST_ROWS, "warm": INGEST_WARM, "rounds": INGEST_ROUNDS}
    return h.hexdigest(), info, params
