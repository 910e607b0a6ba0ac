#!/usr/bin/env python3
"""Write the registry corpus the registry_mix workload reads.

Usage: python3 ethbench/gen_corpus.py <out_dir> [--sf 0.05]

Two parquet tables in the layout and schema of the engine's test corpus
(TESTDATA.md, `<dir>/<table>.parquet`): `lineitem` (q01, q38) and `documents`
(MinHash dedup, stream upsert). That corpus lies outside the benchmark's
checkout, so this script regenerates its shape: every distribution below was
measured on the test corpus at sf0.001, sf0.01 and sf0.1
(`profile_corpus.py` prints the same statistics for either corpus), and the
row counts and key ranges scale with `--sf` as they do there. The seed is
fixed: golden.json's result hashes are for exactly these bytes.
"""
import argparse
import datetime
import os
import random

import pandas as pd

SEED = 42
# 30 words drawn uniformly; a copied document gains the 31st, "dup"
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3  # en 0.4, the others 0.15 each
N_SOURCES = 20
DUP_SHARE = 0.05  # documents replaced by a copy of a random document plus " dup"
SHIP0 = datetime.datetime(1995, 1, 2)
SHIP_DAYS = 2499


def documents(rng, n):
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 99))) for _ in range(n)]
    for i in rng.sample(range(n), round(DUP_SHARE * n)):
        texts[i] = texts[rng.randrange(n)] + " dup"
    rows = [(i, t, rng.choice(LANGS), f"src{rng.randrange(N_SOURCES)}", len(t))
            for i, t in enumerate(texts)]
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])


def lineitem(rng, n, orders, parts, supps):
    rows = [(rng.randrange(orders), rng.randrange(parts), rng.randrange(supps),
             rng.randint(1, 7), float(rng.randint(1, 50)), round(rng.uniform(900.0, 105000.0), 2),
             round(rng.uniform(0.0, 0.10), 2), round(rng.uniform(0.0, 0.08), 2),
             rng.choice("ANR"), rng.choice("OF"),
             SHIP0 + datetime.timedelta(days=rng.randrange(SHIP_DAYS)))
            for _ in range(n)]
    df = pd.DataFrame(rows, columns=[
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"])
    return df.astype({"l_linenumber": "int32"})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.05)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = random.Random(SEED)
    tables = (("documents", lambda: documents(rng, max(500, round(50000 * a.sf)))),
              ("lineitem", lambda: lineitem(rng, round(6000000 * a.sf), round(1500000 * a.sf),
                                            round(200000 * a.sf), round(10000 * a.sf))))
    # the test corpus's writer and layout: pyarrow, one row group, dictionary
    # pages, microsecond timestamps; the layout sets how many tasks a scan gets
    for name, make in tables:
        make().to_parquet(os.path.join(a.out, f"{name}.parquet"), engine="pyarrow",
                          index=False, coerce_timestamps="us")


if __name__ == "__main__":
    main()
