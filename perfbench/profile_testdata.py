#!/usr/bin/env python3
"""Print the figures of a test-data directory that the benchmark's input
generators (perfbench/src/main/scala/perfbench/Inputs.scala) are fitted to.

    python3 perfbench/profile_testdata.py <dir with documents.parquet,
        embeddings.parquet and lineitem.parquet>

The benchmark reads nothing outside its checkout, so it does not load
these tables; it makes inputs of the same shape from its seed. Run this
on the tables to compare them with the generators. Needs duckdb and numpy.
"""
import collections
import json
import sys

import duckdb
import numpy as np


def documents(con, d):
    rows = con.sql(f"SELECT text FROM '{d}/documents.parquet'").fetchall()
    texts = [r[0] for r in rows]
    words = collections.Counter(w for t in texts for w in t.split(" "))
    lens = np.array([len(t.split(" ")) for t in texts])
    tokens = sum(words.values())
    near = [t for t in texts if "dup" in t.split(" ")]
    distinct = set(texts)
    return {
        "rows": len(texts),
        "vocabulary": len(words),
        "word_share_min_max": [min(words.values()) / tokens, max(words.values()) / tokens],
        "rare_words": {w: c for w, c in words.items() if c < tokens / len(words) / 10},
        "words_per_doc_min_p50_max": [int(lens.min()), float(np.median(lens)), int(lens.max())],
        "docs_with_dup_token": len(near),
        "dup_token_last": sum(t.endswith(" dup") for t in near),
        "dup_docs_equal_to_another_without_it": sum(
            " ".join(w for w in t.split(" ") if w != "dup") in distinct for t in near),
        "exact_copies": len(texts) - len(distinct),
    }


def embeddings(con, d):
    rows = con.sql(f"SELECT embedding, label FROM '{d}/embeddings.parquet'").fetchall()
    x = np.array([r[0] for r in rows], dtype=float)
    labels = np.array([r[1] for r in rows])
    centres = np.array([x[labels == l].mean(0) for l in sorted(set(labels.tolist()))])
    return {
        "rows": int(x.shape[0]), "dim": int(x.shape[1]),
        "norm_min_max": [float(np.linalg.norm(x, axis=1).min()),
                         float(np.linalg.norm(x, axis=1).max())],
        "labels": len(centres),
        # a label's mean against a unit vector: near 0 means no cluster structure
        "label_centre_norm_p50": float(np.median(np.linalg.norm(centres, axis=1))),
    }


def lineitem(con, d):
    q = f"""SELECT count(*), min(l_partkey), max(l_partkey), min(l_suppkey), max(l_suppkey),
        min(l_linenumber), max(l_linenumber), min(l_quantity), max(l_quantity),
        min(l_extendedprice), max(l_extendedprice), min(l_discount), max(l_discount),
        min(l_tax), max(l_tax), min(l_shipdate)::VARCHAR, max(l_shipdate)::VARCHAR,
        count(*) / count(DISTINCT l_orderkey)
        FROM '{d}/lineitem.parquet'"""
    r = con.sql(q).fetchone()
    names = ["rows", "partkey_min", "partkey_max", "suppkey_min", "suppkey_max",
             "linenumber_min", "linenumber_max", "quantity_min", "quantity_max",
             "extendedprice_min", "extendedprice_max", "discount_min", "discount_max",
             "tax_min", "tax_max", "shipdate_min", "shipdate_max", "lines_per_order"]
    return dict(zip(names, r))


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    d = sys.argv[1]
    con = duckdb.connect()
    print(json.dumps({"documents": documents(con, d), "embeddings": embeddings(con, d),
                      "lineitem": lineitem(con, d)}, indent=1, default=str))


if __name__ == "__main__":
    main()
