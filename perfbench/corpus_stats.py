#!/usr/bin/env python3
"""Duplication structure of a documents table, as JSON on stdout.

    python3 perfbench/corpus_stats.py <documents.parquet> [<documents.parquet> ...]

Each argument is a parquet file or a directory of part files with the
columns doc_id, text and lang. The figures are the ones that drive the cost
of the dedup, policy and release curation queries: exact copies, near-copy
groups (documents joined by a shared 15-token span, the cut of
pipeline_dedup_e2e), text lengths and token-set overlap. They compare the
generated corpus of perfbench/src/main/scala/perfbench/CurationData.scala
with the corpus it imitates; perfbench/manifest.json records both.
"""
import collections
import itertools
import json
import os
import statistics
import sys

import duckdb

SPAN = 15
JACCARD_SLICE = 500


def load(path):
    src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
    con = duckdb.connect()
    return con.sql(f"SELECT doc_id, text, lang FROM read_parquet('{src}') ORDER BY doc_id").fetchall()


def stats(rows):
    texts = [t for _, t, _ in rows]
    toks = [t.split() for t in texts]
    n = len(texts)
    # documents joined by a shared 15-token span, grouped by union-find
    by_span = collections.defaultdict(set)
    for k, t in enumerate(toks):
        for j in range(len(t) - SPAN + 1):
            by_span[tuple(t[j:j + SPAN])].add(k)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for docs in by_span.values():
        first, *rest = docs
        for d in rest:
            parent[find(d)] = find(first)
    groups = collections.Counter(find(d) for d in parent)
    sizes = collections.Counter(s for s in groups.values() if s > 1)
    head = [set(t) for t in toks[:JACCARD_SLICE]]
    near = sum(1 for a, b in itertools.combinations(head, 2) if len(a & b) / len(a | b) >= 0.6)
    words = [len(t) for t in toks]
    langs = collections.Counter(l for _, _, l in rows)
    return {
        "documents": n,
        "exact_copy_share": round(1 - len(set(texts)) / n, 4),
        "ends_in_dup_share": round(sum(t[-1:] == ["dup"] for t in toks) / n, 4),
        "words_min_median_max": [min(words), statistics.median(words), max(words)],
        "chars_mean": round(statistics.mean(len(t) for t in texts), 1),
        "vocabulary": len({w for t in toks for w in t}),
        "en_share": round(langs["en"] / n, 3),
        "docs_in_span_groups_share": round(sum(sizes[s] * s for s in sizes) / n, 4),
        "span_group_sizes": {str(s): sizes[s] for s in sorted(sizes)},
        "span_occurrences_shared_share": round(
            sum(len(d) for d in by_span.values() if len(d) > 1) /
            max(1, sum(max(0, len(t) - SPAN + 1) for t in toks)), 4),
        f"token_set_jaccard_ge_0.6_pairs_first_{JACCARD_SLICE}": near,
    }


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    print(json.dumps({p: stats(load(p)) for p in sys.argv[1:]}, indent=2))


if __name__ == "__main__":
    main()
