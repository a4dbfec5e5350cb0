#!/usr/bin/env python3
"""Measures the text profile `ingest_append`'s captions follow.

    python3 perfbench/profile_documents.py <dir>/documents.parquet

Reads a `documents` table (`doc_id`, `text`: the table the repository's
dedup benchmark and oracle queries read) with DuckDB and prints, as
JSON: document and token counts, the token-length range and its spread
over tens, each word's token count, the document pairs sharing a
3-token shingle by Jaccard (of distinct shingles) in tenths, the
near-dup pairs (Jaccard >= 0.5) with their smallest Jaccard and
component sizes, and how many of them differ by one trailing token.
`documents_profile.json` is its output for the sf0.1 table. The
benchmark does not run this script; the figures are written into
`src/graft/perfbench/Gen.scala` and `NOTES.md`.
"""
import collections
import itertools
import json
import sys

import duckdb


def shingles(tokens, k=3):
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def main(path):
    rows = duckdb.connect().execute(
        "select doc_id, text from read_parquet(?)", [path]).fetchall()
    toks = {d: t.split(" ") for d, t in rows}
    sh = {d: shingles(t) for d, t in toks.items()}
    posting = collections.defaultdict(list)
    for d, s in sh.items():
        for g in s:
            posting[g].append(d)
    shared = collections.Counter()
    for ds in posting.values():
        for a, b in itertools.combinations(sorted(ds), 2):
            shared[(a, b)] += 1
    jac = {p: c / (len(sh[p[0]]) + len(sh[p[1]]) - c)
           for p, c in shared.items()}
    near = {p: j for p, j in jac.items() if j >= 0.5}
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in near:
        parent[find(a)] = find(b)
    members = collections.Counter()
    for d in {d for p in near for d in p}:
        members[find(d)] += 1
    words = collections.Counter(w for t in toks.values() for w in t)
    lengths = collections.Counter(len(t) // 10 * 10 for t in toks.values())

    def trailing_one(a, b):
        x, y = sorted((toks[a], toks[b]), key=len)
        return len(y) == len(x) + 1 and y[:len(x)] == x
    print(json.dumps({
        "docs": len(rows),
        "tokens": sum(words.values()),
        "length_min": min(len(t) for t in toks.values()),
        "length_max": max(len(t) for t in toks.values()),
        "docs_by_length_tens": dict(sorted(lengths.items())),
        "word_tokens": dict(words.most_common()),
        "near_dup_pairs": len(near),
        "near_dup_jaccard_min": min(near.values(), default=None),
        "pairs_by_jaccard_tenths": dict(sorted(collections.Counter(
            min(int(j * 10), 9) / 10 for j in jac.values()).items())),
        "component_sizes": dict(sorted(collections.Counter(
            members.values()).items())),
        "pairs_one_trailing_token_apart": sum(
            1 for a, b in near if trailing_one(a, b)),
    }, indent=1))


if __name__ == "__main__":
    main(sys.argv[1])
