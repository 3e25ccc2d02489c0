"""Output checks, run after the JVM exits (outside every timed region).

Each workload's check returns one list of failure messages per round; a
round with any message counts as failed.
"""
import os

import duckdb


def _parquet(path):
    """DuckDB scan of a Spark output directory (or a single file)."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet')"
    return f"read_parquet('{path}')"


def v3_asserts(c, info):
    """`tools.V3Stress`'s eight planted-rate asserts over one round's stage
    counts `c` and the corpus constants `info`. The qvecs bound counts the
    spec's planted vector twins (`vtwins`) along with the embeddings file,
    as the scored identity counts the planted doc twins; V3Stress omitted
    them, which only matters when nearly every document passes quality."""
    checks = [
        (c["scored"] == info["docs"] - info["bench"] + info["twins"],
         "scored == corpus - bench + twins"),
        (c["scored"] * 0.5 <= c["passed"] <= c["scored"], "quality accept rate in [0.5, 1]"),
        (c["qvecs"] <= c["passed"] and c["qvecs"] <= info["vecs"] + info["vtwins"],
         "qvecs bounded by passed docs and by the embedding count"),
        (c["sem"] < c["qvecs"], "semantic tier dropped planted twins"),
        (c["deduped"] == c["nonempty_distinct"], "exact dedup output == distinct texts"),
        (c["cleaned"] < c["deduped"], "decontamination dropped planted bench-spliced filler"),
        (c["sel"] == 128, "DSIR selected exactly k=128 docs"),
        (0 < c["train"] <= c["sel"], "train split is a nonempty subset of sel"),
    ]
    return [msg for ok, msg in checks if not ok]


def llm_v3(info, ops):
    """The first round's stage counts pass the planted-rate asserts, and
    every round packs the same rows (count and order-free hash) as the
    first."""
    if not ops:
        return []
    first = ops[0]["check"]["packed"]
    out = []
    for i, op in enumerate(ops):
        bad = []
        if i == 0:
            bad = v3_asserts(info["stages"], info) if info["stages"] else ["no stage counts"]
        if first["rows"] <= 0:
            bad.append("empty pack")
        if op["check"]["packed"] != first:
            bad.append(f"round {i} packed {op['check']['packed']}, round 0 {first}")
        out.append(bad)
    return out


def ingest_serve(info, ops):
    """Per round: no `doc_id` of the round twice in the corpus, each planted
    semantic dup absent whenever its source doc is present, and every
    exact-twin ANN query answered by its twin at rank 1. `info["rounds"]`
    is `gen.ingest_rounds`'s manifest."""
    if not ops:
        return []
    con = duckdb.connect()
    counts = dict(con.execute(
        f"SELECT doc_id, count(*) FROM {_parquet(info['corpus'])} GROUP BY doc_id").fetchall())
    out = []
    for op in ops:
        m = info["rounds"][op["check"]["round"]]
        bad = []
        twice = [d for d, n in counts.items() if m["first_id"] <= d <= m["last_id"] and n > 1]
        if twice:
            bad.append(f"round {m['round']}: {len(twice)} doc_ids twice in the corpus")
        kept = [d for d, src in m["sem_dups"] if d in counts and src in counts]
        if kept:
            bad.append(f"round {m['round']}: {len(kept)} planted semantic dups kept")
        top = dict(con.execute(f"SELECT query_id, neighbor_id FROM {_parquet(op['check']['ann'])} "
                               "WHERE rank = 1").fetchall())
        missed = [q for q, want in m["twins"] if top.get(q) != want]
        if missed:
            bad.append(f"round {m['round']}: {len(missed)} twin queries missed rank 1")
        out.append(bad)
    return out


CHECKS = {"llm_v3": llm_v3, "ingest_serve": ingest_serve}


def check(workload, result):
    """Failure messages per round; rounds that threw fail with their error."""
    ops = result["ops"]
    ok_ops = [op for op in ops if not op["error"]]
    per = iter(CHECKS[workload](result["check"], ok_ops))
    return [[op["error"]] if op["error"] else next(per) for op in ops]

