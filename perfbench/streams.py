#!/usr/bin/env python3
"""Seeded request streams for the benchmark workloads.

A stream is JSON lines: one header object, then one object per operation.
It is a pure function of (workload, seed): the generator imports nothing
of the program, reads no file and no program state, and knows the tables
only through their row-count formulas (gen_data.sizes). The rec_serve
stream carries the cache decision the RecCache contract prescribes for
every household, worked out by the generator's own model of the cache, so
the benchmark can check the served payloads against it.

Usage: python3 perfbench/streams.py <workload> <seed> [<n_ops>]
"""
import json
import random
import sys

from gen_data import sizes

# scale factor of each workload's tables
SCALE = {"analyst": 0.1, "rec_serve": 0.001, "batch": 0.01}

# analyst parameter domains (perfbench/expected/analyst.json covers all).
# Min-support spans the values the program's own callers pass (0.002 in
# Queries' brand rules, 0.01 the AssociationRules.Params default, 0.02 in
# Queries' type rules); on the generated bundles (gen_data.py) it decides
# how many rules a request returns. Every round asks each period once, so
# no two rule requests of one run hand Spark the same plan and a cache an
# operator leaks cannot pass for a speed-up.
PERIODS = [30, 90, 180, 365, None]
MIN_SUPPORTS = [0.002, 0.005, 0.01, 0.02]
MAX_RESULTS = [50, 200]
MATCH_POOL = 200             # households eligible for matchedRules
MATCH_USERS = 25
ANALYST_ROUND = 10           # 5 rule, 1 segment, 2 differential, 2 match
QUARTERS = ["Q1", "Q2", "Q3", "Q4"]
# segments cover the two years before AS_OF, differential tests the four
# years up to THROUGH: equal data volume whatever the seed draws
AS_OF = [f"{y}-{m:02d}-01" for y in (1997, 1998, 1999) for m in range(1, 13)]
THROUGH = ["1999-03-31", "1999-06-30", "1999-09-30", "1999-12-31",
           "2000-03-31", "2000-06-30", "2000-09-30", "2000-12-31"]

# rec_serve: batches of households; a round holds HIT_BATCHES batches made
# only of fresh cache rows and the rest with at least one stale household.
# The mix, the popularity skew and the pinned-alpha shares are chosen, not
# taken from a measured trace. The split is fixed per
# round because a run measures one round of eight batches: a mix drawn
# from popularity and cache state would let the seed decide how many
# 5 s miss batches a run holds, and the latency percentiles of two seeds
# would not compare.
BATCH = 4
ROUND = 8
HIT_BATCHES = 6
DEFAULT_ALPHA = 0.5
PINNED_ALPHAS = [0.3, 0.7]
PINNED_BATCH_SHARE = 0.2
EXPLICIT_SHARE = 0.1
ZIPF_S = 1.2
SEED_CACHE_SHARE = 0.5
SEED_PAYLOAD = '["seed-cache"]'

# batch: each round runs one job of each kind in a seeded order
CHURN_OFFSETS = [60, 90, 120, 180]
SWEEP_THRESHOLDS = [30, 60, 90]
TOKEN_BUDGETS = [2000, 5000, 20000]
SEQ_LENS = [256, 512, 1024]


def analyst(rng, n_ops, n_h):
    # per period, the (min-support, max-results) pairs in a seeded order,
    # one per round: a rule request repeats a plan only after 8 rounds
    pairs = [(s, m) for s in MIN_SUPPORTS for m in MAX_RESULTS]
    order = {p: rng.sample(pairs, len(pairs)) for p in PERIODS}
    stride = max(n_h // MATCH_POOL, 1)
    ops = []
    while len(ops) < n_ops:
        k = len(ops) // ANALYST_ROUND % len(pairs)
        rnd = []
        for p in rng.sample(PERIODS, len(PERIODS)):
            s, m = order[p][k]
            rnd.append({"op": "associationRules", "period": p,
                        "min_support": s, "max_results": m})
        rnd.append({"op": "regenerateSegments", "as_of": rng.choice(AS_OF)})
        for _ in range(2):
            q1, q2 = rng.sample(QUARTERS, 2)
            rnd.append({"op": "differentialQuarters", "q1": q1, "q2": q2,
                        "through": rng.choice(THROUGH)})
        for _ in range(2):
            users = sorted(rng.sample(range(MATCH_POOL), MATCH_USERS))
            rnd.append({"op": "matchedRules",
                        "users": [u * stride for u in users]})
        rng.shuffle(rnd)
        ops.extend(rnd)
    # two requests of each kind, so the JIT has compiled the hot paths
    # before the timed loop; parameters outside the stream's domains, so
    # no timed request repeats a warm-up plan
    header = {"warmup": [
        {"op": "associationRules", "period": 365, "min_support": 0.003,
         "max_results": 50},
        {"op": "regenerateSegments", "as_of": "1996-06-01"},
        {"op": "differentialQuarters", "q1": "Q1", "q2": "Q2",
         "through": "1996-09-30"},
        {"op": "matchedRules", "users": [u * stride for u in range(5)]},
        {"op": "associationRules", "period": 90, "min_support": 0.003,
         "max_results": 200},
        {"op": "regenerateSegments", "as_of": "1996-09-01"},
        {"op": "differentialQuarters", "q1": "Q3", "q2": "Q4",
         "through": "1996-12-31"},
        {"op": "matchedRules",
         "users": [u * stride for u in range(5, 10)]}],
        # the offline jobs a traced run also measures, once each
        "offline": batch_round(rng)}
    return header, ops


def rec_serve(rng, n_ops, n_h):
    # popularity: a seeded permutation of households, Zipf weights by rank
    ranked = rng.sample(range(n_h), n_h)
    weight = {h: 1.0 / (r + 1) ** ZIPF_S for r, h in enumerate(ranked)}
    version = 0
    cache = {}  # household -> (alpha, version, payload or None=computed)
    for h in sorted(rng.sample(range(n_h), int(n_h * SEED_CACHE_SHARE))):
        cache[h] = (DEFAULT_ALPHA, 0, SEED_PAYLOAD)
    # warm-ups: one miss batch (an explicit request) and two all-hit
    # batches of fresh seeded rows; they write beside the cache, not into it
    hits = sorted(cache)
    header = {"cache": [[h, a, v, p] for h, (a, v, p) in sorted(cache.items())],
              "warmup": [{"op": "serve", "alpha": DEFAULT_ALPHA,
                          "households": [ranked[0]], "explicit": [True]}] +
              [{"op": "serve", "alpha": DEFAULT_ALPHA,
                "households": hits[i:i + BATCH],
                "explicit": [False] * len(hits[i:i + BATCH])}
               for i in (0, BATCH)]}

    def draw(pool, k):
        chosen = []
        pool = list(pool)
        while len(chosen) < k and pool:
            h = rng.choices(pool, [weight[x] for x in pool])[0]
            pool.remove(h)
            chosen.append(h)
        return chosen

    def fresh(h):
        return (h in cache and cache[h][0] == DEFAULT_ALPHA
                and cache[h][1] == version)

    ops = []
    while len(ops) < n_ops:
        kinds = ["hit"] * HIT_BATCHES + ["miss"] * (ROUND - HIT_BATCHES)
        rng.shuffle(kinds)
        bump_at = rng.choice([i for i, k in enumerate(kinds) if k == "miss"])
        for i, kind in enumerate(kinds):
            bump = i == bump_at
            if bump:
                version += 1
            hits = [h for h in ranked if fresh(h)]
            if kind == "hit" and hits:
                # a pinned batch can leave fewer than BATCH fresh rows
                alpha, hs = DEFAULT_ALPHA, sorted(draw(hits, BATCH))
                explicit = [False] * len(hs)
            else:
                # the bump batch keeps the default alpha, so the households
                # it refreshes are fresh for the hit batches after it
                pinned = not bump and rng.random() < PINNED_BATCH_SHARE
                alpha = rng.choice(PINNED_ALPHAS) if pinned else DEFAULT_ALPHA
                hs = draw(ranked, BATCH)
                if all(fresh(h) for h in hs) and not pinned:
                    stale = [h for h in ranked if not fresh(h) and h not in hs]
                    hs[-1] = draw(stale, 1)[0]
                hs = sorted(hs)
                explicit = [pinned or rng.random() < EXPLICIT_SHARE
                            for _ in hs]
            recalc = []
            for h, e in zip(hs, explicit):
                c = cache.get(h)
                r = e or c is None or c[0] != alpha or c[1] != version
                recalc.append(r)
                if r:
                    cache[h] = (alpha, version, None)
            ops.append({"op": "serve", "alpha": alpha, "households": hs,
                        "explicit": explicit, "bump": bump,
                        "version": version, "recalculate": recalc})
    return header, ops


def batch_round(rng):
    rnd = [{"op": "trainAndScoreChurn",
            "offset_days": rng.choice(CHURN_OFFSETS)},
           {"op": "optimizeChurnThreshold",
            "thresholds": SWEEP_THRESHOLDS},
           {"op": "preparePack",
            "token_budget": rng.choice(TOKEN_BUDGETS),
            "seq_len": rng.choice(SEQ_LENS)}]
    rng.shuffle(rnd)
    return rnd


def batch(rng, n_ops, n_h):
    ops = []
    while len(ops) < n_ops:
        ops.extend(batch_round(rng))
    header = {"warmup": [{"op": "preparePack", "token_budget": 2000,
                          "seq_len": 512},
                         {"op": "trainAndScoreChurn", "offset_days": 60}]}
    return header, ops


GENERATORS = {"analyst": analyst, "rec_serve": rec_serve, "batch": batch}


def stream(workload, seed, n_ops=400, sf=None):
    """The request stream as text: header line, then one line per op.
    `sf` overrides the workload's scale factor (smoke runs)."""
    sf = SCALE[workload] if sf is None else sf
    n_h = sizes(sf)["customers"]
    rng = random.Random(seed)
    header, ops = GENERATORS[workload](rng, n_ops, n_h)
    header.update({"workload": workload, "seed": seed, "sf": sf,
                   "households": n_h})
    lines = [json.dumps(header, sort_keys=True)]
    lines += [json.dumps(o, sort_keys=True) for o in ops]
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    n = int(sys.argv[3]) if len(sys.argv) == 4 else 400
    sys.stdout.write(stream(sys.argv[1], int(sys.argv[2]), n))
