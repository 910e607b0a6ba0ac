#!/usr/bin/env python3
"""Print the statistics gen_corpus.py reproduces, for any corpus directory.

Usage: python3 ethbench/profile_corpus.py <dir> [<dir> ...]

Run it on the engine's test corpus (TESTDATA.md) and on a generated corpus of
the same scale to compare the two: one JSON object per directory.
"""
import json
import sys

import duckdb

STATS = {
    "documents.rows": "SELECT count(*) FROM documents",
    "documents.words_min_max_avg": "SELECT min(n), max(n), round(avg(n), 1) FROM "
                                   "(SELECT len(string_split(text, ' ')) n FROM documents)",
    "documents.vocabulary": "SELECT count(DISTINCT w) FROM "
                            "(SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "documents.dup_share": "SELECT round(avg(CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END), 3) "
                           "FROM documents",
    "documents.en_share": "SELECT round(avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 3) FROM documents",
    "documents.sources": "SELECT count(DISTINCT source) FROM documents",
    "lineitem.rows": "SELECT count(*) FROM lineitem",
    "lineitem.distinct_order_part_supp": "SELECT count(DISTINCT l_orderkey), "
                                         "count(DISTINCT l_partkey), count(DISTINCT l_suppkey) FROM lineitem",
    "lineitem.price_min_max_avg": "SELECT min(l_extendedprice), max(l_extendedprice), "
                                  "round(avg(l_extendedprice)) FROM lineitem",
    "lineitem.avg_qty_disc_tax": "SELECT round(avg(l_quantity), 2), round(avg(l_discount), 4), "
                                 "round(avg(l_tax), 4) FROM lineitem",
    "lineitem.shipdate_min_max": "SELECT CAST(min(l_shipdate) AS VARCHAR), "
                                 "CAST(max(l_shipdate) AS VARCHAR) FROM lineitem",
    "lineitem.q01_share": "SELECT round(avg(CASE WHEN l_shipdate <= TIMESTAMP '1998-09-02' "
                          "THEN 1 ELSE 0 END), 3) FROM lineitem",
}


def profile(d):
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    out = {}
    for k, q in STATS.items():
        row = con.sql(q).fetchone()
        out[k] = row[0] if len(row) == 1 else list(row)
    return out


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(json.dumps({"dir": d, **profile(d)}))
