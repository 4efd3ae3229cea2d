"""Seeded input generator for the benchmark workloads.

Every input a run sends to the engine is drawn here from the workload seed:
query vectors (as ids of stored corpus vectors), filters, panel terms,
feedback votes, ingest batches and delete ids. The plan also fixes how
many operations each phase runs, from the run's --seconds, so the JVM
harness only plays it: it draws and counts nothing itself. The same seed
and length give a byte-identical plan.
"""
import json
import random

# Corpus geometry, fixed by the tables under perfbench/data.
N_KEYFRAMES = 2000          # embeddings.parquet rows (ids 0..1999)
RESERVED_IDS = 400          # keyframe ids registered ahead of ingest
K = 50                      # top-k of every search request
VOCAB = ("vector column customer table scan spark value data join big key "
         "slow stream row line group filter window merge batch small agg "
         "hash query order part fast sort").split()

# The construction-heavy SparkEntry pipelines the batch workload runs: a
# subset of the 17 that fits the run budget (see perfbench/README.md).
BATCH_QUERIES = [
    "q36_curation_e2e", "dedup_minhash_lsh", "mm_phash_dedup",
    "text_bpe_segment", "text_langid", "text_quality", "s14_tag_corpus",
    "text_bpe_fit", "rec_related_terms",
]

# Operations per serving run. Per 10 s of --seconds: two 1-client cycles,
# two 4-client cycles and one write cycle (about 14 s of serving on 4 cores).
WARMUP_CYCLES = 1           # untimed, 4 clients
MIN_WRITE_CYCLES = 2
BATCH_ROWS = 20             # keyframes landed per write cycle
DELETES_PER_CYCLE = 4
READS_PER_CYCLE = 3         # reads over build cells plus the increment
EXACT_CHECKS = 3            # exact-mode requests checked against brute force
PANEL_CHECKS = 1            # panelIndexed checked against the scanning panel

# One serving cycle: 4 textsearch-ANN (2 plain, filtered, ignore-listed),
# 2 panel, 2 feedback, 1 temporal, 1 imgsearch.
CYCLE = ["ann", "ann", "ann_filtered", "ann_ignore", "panel", "panel",
         "feedback", "feedback", "temporal", "imgsearch"]


def _prev_hits(rng):
    ids = rng.sample(range(N_KEYFRAMES), 10)
    return [[i, round(0.9 - 0.05 * j, 2)] for j, i in enumerate(ids)]


def _request(rng, kind):
    kid = lambda: rng.randrange(N_KEYFRAMES)
    if kind == "ann":
        return {"ep": "textsearch_ann", "q": kid()}
    if kind == "ann_filtered":
        return {"ep": "textsearch_ann", "q": kid(),
                "partition_tag": rng.randrange(4)}
    if kind == "ann_ignore":
        return {"ep": "textsearch_ann", "q": kid(), "ignore": [kid()]}
    if kind == "panel":
        return {"ep": "panel", "terms": rng.sample(VOCAB, 2)}
    if kind == "feedback":
        prev = _prev_hits(rng)
        pos, neg = rng.sample([p[0] for p in prev], 2)
        return {"ep": "feedback", "prev": prev, "pos": [pos], "neg": [neg]}
    if kind == "temporal":
        return {"ep": "temporal", "prev": _prev_hits(rng), "q": kid(),
                "range": 2}
    return {"ep": "imgsearch", "id": kid()}


def per_10s(seconds, per, least):
    return max(least, int(seconds / 10 * per + 0.5))


def serve_small(seed, seconds):
    rng = random.Random(f"serve_small:{seed}")

    def cycles(n):
        return [_request(rng, kind) for _ in range(n) for kind in CYCLE]

    warmup = cycles(WARMUP_CYCLES)
    client1 = cycles(per_10s(seconds, 2, 1))
    client4 = cycles(per_10s(seconds, 2, 1))
    next_id, live, writes = N_KEYFRAMES, [], []
    for _ in range(per_10s(seconds, 1, MIN_WRITE_CYCLES)):
        batch = [[next_id + j, rng.randrange(N_KEYFRAMES)]
                 for j in range(BATCH_ROWS)]
        next_id += BATCH_ROWS
        live.extend(b[0] for b in batch)
        dead = rng.sample(live, DELETES_PER_CYCLE)
        live = [i for i in live if i not in dead]
        writes.append({"batch": batch, "delete": sorted(dead),
                       "reads": [rng.randrange(N_KEYFRAMES)
                                 for _ in range(READS_PER_CYCLE)]})
    if next_id > N_KEYFRAMES + RESERVED_IDS:
        raise ValueError(f"--seconds {seconds} lands more ids than the "
                         f"{RESERVED_IDS} reserved")
    return {
        "workload": "serve_small", "seed": seed, "k": K,
        "keyframes": N_KEYFRAMES, "reserved_ids": RESERVED_IDS,
        "cycle": len(CYCLE), "warmup": warmup, "client1": client1,
        "client4": client4, "writes": writes,
        "exact_checks": [rng.randrange(N_KEYFRAMES)
                         for _ in range(EXACT_CHECKS)],
        "panel_checks": [rng.sample(VOCAB, 2) for _ in range(PANEL_CHECKS)],
    }


def batch_pipeline(seed, seconds):
    # The pass is the fixed query list, one pass whatever --seconds says:
    # its inputs are the sf0.1 tables, and a fixed order keeps one-time JVM
    # warm-up on the same query.
    return {"workload": "batch_pipeline", "seed": seed,
            "queries": list(BATCH_QUERIES)}


WORKLOADS = {"serve_small": serve_small, "batch_pipeline": batch_pipeline}


def plan(workload, seed, seconds):
    return WORKLOADS[workload](seed, seconds)


def dumps(p):
    return json.dumps(p, sort_keys=True, separators=(",", ":"))
