"""``doc_queries``: the nine round-6 bench doc queries.

Timed run: one pass over the nine queries of ``__spark_entry__.queries()``
(``.collect()`` each, as bench.py does) in the fresh session, then
ceil(``--seconds`` / NOMINAL_PASS_S) warm passes. Per-query times keep their
BENCH_r06 key names. The input is generated from the seed with the shape of
the round-6 bench tables (sf0.1) at a quarter of their size; see
inputs.documents.

Checks, outside the timed region: every query's first-pass result equals its
``__spark_entry__.oracle_sql()`` result on DuckDB over the same parquet
files (normalised as scripts/check_oracle.py does: columns sorted, strings
as str, floats rounded to 6 places, rows sorted), and every later pass
returns the same rows as the first.

Traced run: the first pass, one untraced pass in a restarted session, then
one pass in a traced session with one job group per query.
"""

from __future__ import annotations

import hashlib
import time

import pandas as pd

from common import Timer, quartiles, quiet
from spans import SPAN_UNITS, Tracer

QUERIES = ("exact_dup_groups", "dedup_report", "minhash_lsh_docs",
           "ngram_jaccard", "containment_docs", "simhash_docs", "doc_quality",
           "embedding_topk", "token_count")
# sf0.1 holds 5,000 documents; the generated set keeps its shape (see
# inputs.documents) at a quarter of its size, so a run fits the time budget
N_DOCS = 1250
# warm passes measured: ceil(--seconds / NOMINAL_PASS_S)
NOMINAL_PASS_S = 8.0


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def query_pass(b, qs, data: str, tr: Tracer | None = None):
    """One pass over the nine queries; returns (pass Timer, per-query
    seconds, per-query rows). A failing query is counted and skipped."""
    times, rows = {}, {}
    with Timer() as t_pass:
        for name in QUERIES:
            b.attempted += 1
            t0 = time.perf_counter()
            try:
                with quiet():
                    if tr is None:
                        result = qs[name](b.spark, data)
                        collected = result.collect()
                    else:
                        with tr.span(f"doc.{name}"):
                            result = qs[name](b.spark, data)
                            collected = result.collect()
            except Exception as e:  # counted, the pass goes on
                b.failed += 1
                b.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
                continue
            times[name] = time.perf_counter() - t0
            rows[name] = pd.DataFrame([tuple(r) for r in collected],
                                      columns=result.columns)
    return t_pass, times, rows


def rows_digest(df: pd.DataFrame) -> str:
    return hashlib.sha256(normalize(df).to_csv(index=False).encode()).hexdigest()[:16]


def same_rows(b, rows: dict, digests: dict) -> None:
    for q, df in rows.items():
        b.check(rows_digest(df) == digests.get(q), f"{q}: rows differ between passes")


def oracle_checks(b, data: str, rows: dict) -> int:
    """Compare each query's rows with its DuckDB oracle; returns matches."""
    import duckdb

    import __spark_entry__ as em

    oracles = em.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    ok = 0
    for name in QUERIES:
        if name not in rows:
            continue
        a = normalize(rows[name])
        bb = normalize(con.execute(oracles[name]).fetchdf())
        same = len(a) == len(bb) and list(a.columns) == list(bb.columns)
        if same:
            try:
                pd.testing.assert_frame_equal(a, bb, check_dtype=False,
                                              check_exact=False, atol=1e-6)
            except AssertionError:
                same = False
        b.check(same, f"{name}: differs from its DuckDB oracle "
                      f"({len(a)} vs {len(bb)} rows)")
        ok += same
    con.close()
    return ok


def run(b) -> dict:
    import __spark_entry__ as em
    from inputs import documents

    t0 = time.perf_counter()
    data_dir = b.work / "docs"
    documents(b.seed, N_DOCS, data_dir)
    data = str(data_dir)
    b.detail["generate_s"] = time.perf_counter() - t0
    qs = em.queries()

    def register(spark):
        b.detail["input_rows"] = spark.read.parquet(f"{data}/documents.parquet").count()
        spark.read.parquet(f"{data}/embeddings.parquet").count()

    setup_s = b.timed_setups(register)
    n = b.detail["input_rows"]
    first, first_times, first_rows = query_pass(b, qs, data)
    digests = {k: rows_digest(v) for k, v in first_rows.items()}
    b.detail["result_rows"] = {k: len(v) for k, v in first_rows.items()}
    b.detail["fingerprint"] = hashlib.sha256(
        "".join(digests.get(q, "-") for q in QUERIES).encode()).hexdigest()[:16]
    if b.trace:
        metrics = traced(b, qs, data, digests)
        oracle_checks(b, data, first_rows)
        return metrics

    b.probe()
    warm, per_query = [], {q: [] for q in QUERIES}
    for _ in range(b.warm_passes(NOMINAL_PASS_S)):
        t, times, rows = query_pass(b, qs, data)
        warm.append(t)
        b.probe()
        for q, t in times.items():
            per_query[q].append(t)
        same_rows(b, rows, digests)
    matched = oracle_checks(b, data, first_rows)
    q = quartiles([t.unstolen_s for t in warm])
    b.detail.update({
        "first_pass_wall_s": first.wall_s,
        "warm_passes_s": [t.wall_s for t in warm],
        "doc_pass_unstolen_quartiles_s": q,
        "doc_pass_s": q["median"],
        "queries": {k: quartiles(v)["median"] for k, v in per_query.items() if v},
        "queries_cold": first_times,
        "oracle_matched": matched,
    })
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (first.unstolen_s, "s"),
        "rows_per_s": (n / q["median"], "rows/s"),
        # a mirror of the oracle check: any mismatch already fails the run
        "recall": (matched / len(QUERIES), "ratio"),
    }


def traced(b, qs, data: str, digests: dict) -> dict:
    """Two passes in a restarted untraced session, then two in a restarted
    traced session with a job group per query; the second pass in each is
    timed (tracing overhead = traced - untraced)."""
    b.stop_session()
    b.start_session()
    query_pass(b, qs, data)
    untraced_s = query_pass(b, qs, data)[0].wall_s
    b.stop_session()
    tr = Tracer(b.start_session(traced=True))
    query_pass(b, qs, data)
    t, _, rows = query_pass(b, qs, data, tr)
    traced_s = t.wall_s
    b.stop_session()
    same_rows(b, rows, digests)
    spans = tr.fold(b.events)
    b.detail.update({"spans": spans, "pass_untraced_s": untraced_s,
                     "pass_traced_s": traced_s})
    m = {f"doc.{f}": (sum(s.get(f, 0) for s in spans.values()), u)
         for f, u in SPAN_UNITS.items()}
    m.update({f"doc.{q}_s": (spans.get(f"doc.{q}", {}).get("wall_s", 0), "s")
              for q in QUERIES})
    m["trace.overhead_s"] = (traced_s - untraced_s, "s")
    return m
