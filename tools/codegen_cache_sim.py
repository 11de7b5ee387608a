#!/usr/bin/env python3
"""Simulates Spark's generated-code cache under the curation benchmark's
pass order, to tell how many generated classes the working set may hold
before timed passes start recompiling.

    python3 tools/codegen_cache_sim.py [op=classes ...]

The cache (Spark 4.1.2 `CodeGenerator`) is a Guava cache with
`maximumSize(100)` and the default concurrency level: four segments of 25
entries, each evicting its own least recently used entry. Its key hashes
the classloader's identity hash, so every JVM spreads the classes over the
segments anew; here each class draws a uniform segment per simulated run.
A run compiles a few session-start classes, runs one fill pass in fixed op
order, then passes in shuffled op order; every pass after the first
shuffled one counts as timed. Prints, per working set, the recompiles per
timed pass and the share of timed passes that recompile nothing.
Defaults: the five curation ops' first-call class counts at the lean
MinHash/TF-IDF change and after the sorted-run MinHash bucket walk
(BASELINE.md), followed by smaller working sets.
"""
import collections
import random
import statistics
import sys

SEGMENTS, SEGMENT_CAP, SESSION_CLASSES = 4, 25, 8


def simulate(sizes, runs=2000, passes=5):
    per_pass = []
    for run in range(runs):
        rnd = random.Random(run)
        keys = [(op, i) for op, n in sizes.items() for i in range(n)]
        session = [("session", i) for i in range(SESSION_CLASSES)]
        segment = {k: rnd.randrange(SEGMENTS) for k in keys + session}
        lru = [collections.OrderedDict() for _ in range(SEGMENTS)]

        def touch(key):
            seg = lru[segment[key]]
            if key in seg:
                seg.move_to_end(key)
                return 0
            seg[key] = True
            while len(seg) > SEGMENT_CAP:
                seg.popitem(last=False)
            return 1

        for k in session:
            touch(k)
        order = list(sizes)
        for op in order:
            for i in range(sizes[op]):
                touch((op, i))
        for p in range(passes):
            rnd.shuffle(order)
            misses = sum(touch((op, i)) for op in order for i in range(sizes[op]))
            if p >= 1:
                per_pass.append(misses)
    return per_pass


def report(sizes):
    per_pass = simulate(sizes)
    q1, _, q3 = statistics.quantiles(per_pass, n=4)
    clean = sum(1 for m in per_pass if m == 0) / len(per_pass)
    print(f"{sum(sizes.values()):3d} classes {dict(sizes)}: recompiles/pass "
          f"mean {statistics.mean(per_pass):.1f} (quartiles {q1:.0f}-{q3:.0f}), "
          f"no-recompile passes {clean:.0%}")


if __name__ == "__main__":
    if len(sys.argv) > 1:
        report({a.split("=")[0]: int(a.split("=")[1]) for a in sys.argv[1:]})
    else:
        base = {"etl_source_scan": 13, "etl_jdbc_sink": 11, "dedup_exact": 10,
                "dedup_minhash": 39, "text_tfidf": 23}
        report({**base, "dedup_minhash": 43})
        report(base)
        report({**base, "dedup_minhash": 31})  # sorted-run bucket walk
        for mh, tf in [(35, 18), (30, 18), (26, 16), (20, 14)]:
            report({**base, "dedup_minhash": mh, "text_tfidf": tf})
