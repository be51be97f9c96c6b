"""Measures the statistics the curation generator (``datagen.documents`` /
``datagen.embeddings``) is calibrated to, on a directory holding
``documents.parquet`` and ``embeddings.parquet``, or on the generator's
own output, so the two can be compared side by side:

    python3 streambench/calibrate.py path/to/sf0.1
    python3 streambench/calibrate.py --seed 1

Prints one JSON object: table sizes, words per doc, vocabulary, language
shares, whether ``source`` follows ``src{doc_id % 20}``, how many docs
are one-edit copies of an earlier doc (3-token shingle Jaccard >= 0.5;
by edit kind), how many arriving docs (``doc_id % 10 == 0``) are
near-duplicates (Jaccard >= 0.8) of a corpus doc, and the embeddings'
shape. Pure Python + pyarrow; no engine.
"""

from __future__ import annotations

import argparse
import collections
import difflib
import json
import os
import statistics

import numpy as np
import pyarrow.parquet as pq

import datagen as G


def _shingles(words: list[str], k: int = 3) -> set[str]:
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def _best_match(sh: set[str], index: dict, sets: list[set[str]]) -> tuple[float, int | None]:
    """Highest Jaccard of ``sh`` against the indexed sets, and which."""
    hits = collections.Counter(j for x in sh for j in index.get(x, ()))
    best = (0.0, None)
    for j, n in hits.most_common(5):
        jac = n / len(sh | sets[j])
        if jac > best[0]:
            best = (jac, j)
    return best


def _edit_kind(a: list[str], b: list[str]) -> str:
    ops = [op for op in difflib.SequenceMatcher(None, a, b).get_opcodes() if op[0] != "equal"]
    if not ops:
        return "exact"
    if len(ops) == 1 and ops[0][0] in ("insert", "delete"):
        n = max(ops[0][2] - ops[0][1], ops[0][4] - ops[0][3])
        return f"{ops[0][0]}{n}"
    return "other"


def measure(docs, emb) -> dict:
    rows = docs.to_pylist()
    words = [r["text"].split() for r in rows]
    lengths = [len(w) for w in words]
    vocab = collections.Counter(x for w in words for x in w)
    sets = [_shingles(w) for w in words]

    copies: collections.Counter = collections.Counter()
    index: dict[str, list[int]] = collections.defaultdict(list)
    for i, sh in enumerate(sets):
        jac, j = _best_match(sh, index, sets)
        if jac >= 0.5:
            copies[_edit_kind(words[j], words[i])] += 1
        for x in sh:
            index[x].append(i)

    arriving = [i for i, r in enumerate(rows) if r["doc_id"] % G.ARRIVING_MOD == 0]
    corpus = [i for i, r in enumerate(rows) if r["doc_id"] % G.ARRIVING_MOD != 0]
    corpus_index: dict[str, list[int]] = collections.defaultdict(list)
    for i in corpus:
        for x in sets[i]:
            corpus_index[x].append(i)
    near = sum(_best_match(sets[i], corpus_index, sets)[0] >= 0.8 for i in arriving)

    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    return {
        "documents": len(rows),
        "arriving": len(arriving),
        "corpus": len(corpus),
        "words_per_doc": {"min": min(lengths), "quartiles": statistics.quantiles(lengths, n=4),
                          "max": max(lengths), "mean": round(statistics.mean(lengths), 2)},
        "vocabulary": len(vocab),
        "least_and_most_common_word_share": [
            round(min(vocab.values()) / sum(vocab.values()), 4),
            round(max(vocab.values()) / sum(vocab.values()), 4),
        ],
        "lang_shares": {k: round(v / len(rows), 3)
                        for k, v in collections.Counter(r["lang"] for r in rows).most_common()},
        "source_is_doc_id_mod_20": all(r["source"] == f"src{r['doc_id'] % 20}" for r in rows),
        "arriving_bench_source": sum(rows[i]["source"] == G.BENCH_SOURCE for i in arriving),
        "copies_of_an_earlier_doc": dict(copies.most_common()),
        "arriving_near_dups_of_corpus": near,
        "embeddings": {"rows": len(vecs), "dim": int(vecs.shape[1]),
                       "mean_norm": round(float(np.linalg.norm(vecs, axis=1).mean()), 4)},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("table_dir", nargs="?", help="directory with documents/embeddings parquet")
    ap.add_argument("--seed", type=int, help="measure the generator's output for this seed")
    args = ap.parse_args()
    if args.seed is not None:
        docs, emb = G.documents(args.seed), G.embeddings(args.seed)
    elif args.table_dir:
        docs = pq.read_table(os.path.join(args.table_dir, "documents.parquet"))
        emb = pq.read_table(os.path.join(args.table_dir, "embeddings.parquet"))
    else:
        ap.error("give a table directory or --seed")
    print(json.dumps(measure(docs, emb), indent=1))


if __name__ == "__main__":
    main()
