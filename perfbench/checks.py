"""Correctness checks, run outside the timed region of every run.

* Crawl workloads: DuckDB reads the generated web graph and the crawl's
  final URL DB (both parquet) and checks that the URL DB is closed — its
  URLs are exactly the seeds plus the outlinks of the pages it fetched —
  that URLs are unique, that only graph pages were fetched, and that the
  robots rules were obeyed.
* curation_mix: each query's Spark result must equal its registered
  DuckDB oracle, value-exact: same columns, same integer/float/bool
  kinds, same rows after sorting, floats equal to 9 decimals.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa


def _one(con: duckdb.DuckDBPyConnection, sql: str) -> int:
    return int(con.execute(sql).fetchone()[0])


def check_crawl_state(
    state_dir: str,
    edges_path: str,
    seeds: list[str],
    robots_path: str | None = None,
) -> list[str]:
    """Problems found in a crawl's final state (empty list = correct)."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW state AS SELECT * FROM read_parquet('{state_dir}/*.parquet')")
        con.execute(f"CREATE VIEW g AS SELECT * FROM read_parquet('{edges_path}')")
        con.register("seeds_tbl", pa.table({"url": pa.array(seeds, pa.string())}))
        con.execute("CREATE TABLE seeds AS SELECT DISTINCT url FROM seeds_tbl")
        con.execute(
            """CREATE TABLE expected AS
               SELECT url FROM seeds
               UNION
               SELECT g.outlink_url FROM g JOIN state s
                 ON g.page_url = s.url AND s.status = 'FETCHED'
               WHERE g.outlink_url IS NOT NULL"""
        )
        problems = []
        n_fetched = _one(con, "SELECT count(*) FROM state WHERE status = 'FETCHED'")
        if n_fetched == 0:
            problems.append("no page was fetched")
        dups = _one(con, "SELECT count(*) - count(DISTINCT url) FROM state")
        if dups:
            problems.append(f"{dups} duplicate URLs in the state")
        missing = _one(con, "SELECT count(*) FROM (SELECT url FROM expected EXCEPT SELECT url FROM state)")
        extra = _one(con, "SELECT count(*) FROM (SELECT url FROM state EXCEPT SELECT url FROM expected)")
        if missing or extra:
            problems.append(f"closure broken: {missing} expected URLs missing, {extra} unexpected URLs")
        not_pages = _one(
            con,
            """SELECT count(*) FROM state WHERE status = 'FETCHED'
               AND url NOT IN (SELECT page_url FROM g)""",
        )
        if not_pages:
            problems.append(f"{not_pages} FETCHED URLs are not graph pages")
        found = _one(
            con,
            """SELECT count(*) FROM state WHERE status = 'HTTP_NOT_FOUND'
               AND url IN (SELECT page_url FROM g)""",
        )
        if found:
            problems.append(f"{found} graph pages reported HTTP_NOT_FOUND")
        if robots_path is not None:
            con.execute(
                f"""CREATE VIEW disallowed AS
                    SELECT s.url, s.status FROM state s
                    JOIN read_parquet('{robots_path}') r
                      ON regexp_extract(s.url, '^(https?://[^/]+)', 1) || '/robots.txt' = r.robots_url
                    WHERE s.url LIKE '%/private/%'"""
            )
            broken = _one(con, "SELECT count(*) FROM disallowed WHERE status = 'FETCHED'")
            if broken:
                problems.append(f"{broken} robots-disallowed URLs were fetched")
            blocked = _one(con, "SELECT count(*) FROM state WHERE status = 'SKIPPED_BLOCKED'")
            blocked_ok = _one(con, "SELECT count(*) FROM disallowed WHERE status = 'SKIPPED_BLOCKED'")
            if blocked != blocked_ok:
                problems.append(f"{blocked - blocked_ok} URLs blocked without a robots rule")
        return problems
    finally:
        con.close()


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Value-exact comparison of a Spark result with its DuckDB oracle."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: spark={sorted(got.columns)} oracle={sorted(want.columns)}"]
    problems = []
    for c in got.columns:
        ka, kb = got[c].dtype.kind, want[c].dtype.kind
        if (ka in "iu") != (kb in "iu") or (ka == "f") != (kb == "f") or (ka == "b") != (kb == "b"):
            problems.append(f"dtype differs in {c}: spark={got[c].dtype} oracle={want[c].dtype}")
    if problems:
        return problems
    if len(got) != len(want):
        return [f"row count: spark={len(got)} oracle={len(want)}"]
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        col_a, col_b = a[c], b[c]
        if col_a.dtype.kind == "f" or col_b.dtype.kind == "f":
            col_a = col_a.astype(float).round(9).fillna(-1e308)
            col_b = col_b.astype(float).round(9).fillna(-1e308)
            bad = col_a != col_b
        else:
            bad = col_a.fillna("<NA>").astype(str) != col_b.fillna("<NA>").astype(str)
        if bad.any():
            i = int(bad.idxmax())
            problems.append(f"values differ in {c}: row {i} spark={a[c].iloc[i]!r} oracle={b[c].iloc[i]!r}")
    return problems


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda x: str(x) if x is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)
