#!/usr/bin/env python3
"""Shape of a documents + embeddings pair, as the doc_queries workload sees
it. Run from the root of a source checkout:

    python3 perfbench/shape.py <dir holding documents.parquet and embeddings.parquet>
    python3 perfbench/shape.py --generate <seed>   # the benchmark's own input

Prints one JSON object: row counts, the words-per-text distribution, the
vocabulary size, language shares, the near-duplicate share (texts equal to
another text + " dup"), the exact-copy share, and the result rows of each of
the nine doc queries' DuckDB oracles. inputs.documents takes its parameters
from this output for the round-6 bench tables.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(Path.cwd()))


def shape(data: str) -> dict:
    import duckdb

    import __spark_entry__ as em
    from docs import QUERIES

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def one(sql):
        return con.execute(sql).fetchone()

    n_docs, = one("SELECT count(*) FROM documents")
    n_vecs, dim = one("SELECT count(*), max(len(embedding)) FROM embeddings")
    near, = one("""SELECT count(*) FROM documents a WHERE a.text LIKE '% dup'
                   AND EXISTS (SELECT 1 FROM documents b
                               WHERE b.text = left(a.text, length(a.text) - 4))""")
    copies, = one("""SELECT coalesce(sum(c - 1), 0) FROM
                     (SELECT count(*) AS c FROM documents GROUP BY text)""")
    words = "len(string_split_regex(text, '\\s+'))"
    lo, q1, q2, q3, hi = one(
        f"SELECT min({words}), quantile_cont({words}, 0.25), "
        f"quantile_cont({words}, 0.5), quantile_cont({words}, 0.75), "
        f"max({words}) FROM documents WHERE text NOT LIKE '% dup'")
    vocab, = one("""SELECT count(DISTINCT w) FROM
                    (SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)""")
    langs = {k: round(v / n_docs, 4) for k, v in con.execute(
        "SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 2 DESC").fetchall()}
    oracles = em.oracle_sql()
    rows = {q: one(f"SELECT count(*) FROM ({oracles[q]})")[0] for q in QUERIES}
    con.close()
    return {
        "documents": n_docs, "embeddings": n_vecs, "embedding_dim": dim,
        "vecs_per_doc": round(n_vecs / n_docs, 4),
        "words_per_text": {"min": lo, "q1": q1, "median": q2, "q3": q3, "max": hi},
        "vocabulary": vocab, "lang_shares": langs,
        "near_dup_share": round(near / n_docs, 4),
        "exact_copy_share": round(copies / n_docs, 4),
        "result_rows": rows,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("data", nargs="?")
    g.add_argument("--generate", type=int, metavar="SEED")
    args = ap.parse_args()
    if args.data:
        print(json.dumps(shape(args.data)))
        return 0
    from docs import N_DOCS
    from inputs import documents

    with tempfile.TemporaryDirectory(dir=Path.cwd()) as tmp:
        documents(args.generate, N_DOCS, Path(tmp))
        print(json.dumps(shape(tmp)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
