"""Tests for the benchmark's own helpers (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import harness  # noqa: E402
from checks import check_crawl_state, compare_frames  # noqa: E402

SMALL = gen.GraphSpec(n_pages=300, n_domains=12)


def _tables(files: gen.GraphFiles) -> list:
    return [pq.read_table(p) for p in (files.edges, files.pages_html, files.robots)]


def test_graph_is_deterministic_for_a_seed(tmp_path):
    a = gen.make_web_graph(7, SMALL, str(tmp_path / "a"))
    b = gen.make_web_graph(7, SMALL, str(tmp_path / "b"))
    c = gen.make_web_graph(8, SMALL, str(tmp_path / "c"))
    assert all(x.equals(y) for x, y in zip(_tables(a), _tables(b)))
    assert a.pages == b.pages
    assert gen.pick_seeds(7, a.pages, 5) == gen.pick_seeds(7, b.pages, 5)
    assert not _tables(a)[0].equals(_tables(c)[0])


def test_graph_shape(tmp_path):
    files = gen.make_web_graph(3, SMALL, str(tmp_path))
    edges = pq.read_table(files.edges).to_pandas()
    assert len(edges) == SMALL.n_pages * SMALL.out_degree
    assert edges.groupby("page_url").size().eq(SMALL.out_degree).all()
    assert edges["outlink_url"].str.contains("/missing").any()  # dangling links exist
    robots = pq.read_table(files.robots).to_pandas()
    assert len(robots) and robots["body"].str.contains("Disallow: /private/").all()


def test_corpus_is_deterministic_for_a_seed(tmp_path):
    kw = {"n_docs": 40, "n_vecs": 20, "n_parts": 30}
    a = gen.make_corpus(5, str(tmp_path / "a"), **kw)
    b = gen.make_corpus(5, str(tmp_path / "b"), **kw)
    for t in ("documents", "embeddings", "part"):
        assert pq.read_table(f"{a}/{t}.parquet").equals(pq.read_table(f"{b}/{t}.parquet"))


def test_median_reports_its_sample_count():
    assert harness.median_with_count([3.0, 1.0, 2.0]) == (2.0, 3)
    assert harness.median_with_count([4.0, 1.0]) == (2.5, 2)
    with pytest.raises(ValueError):
        harness.median_with_count([])


def test_oracle_comparison_catches_one_perturbed_row():
    want = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 0.125], "tag": ["a", "b", "c"]})
    got = want.iloc[::-1].reset_index(drop=True)[["tag", "score", "id"]]
    assert compare_frames(got, want) == []  # row and column order do not matter
    bad = got.copy()
    bad.loc[1, "score"] = 0.2500001
    assert compare_frames(bad, want)
    bad = got.copy()
    bad.loc[0, "tag"] = "z"
    assert compare_frames(bad, want)
    assert compare_frames(got.astype({"id": float}), want)  # int vs float kind


def test_deadline_kills_a_sleeping_stub():
    res = harness.run_with_deadline([sys.executable, "-c", "import time; time.sleep(60)"], 1.0)
    assert res.timed_out and res.returncode is None
    assert res.elapsed_s < 15
    ok = harness.run_with_deadline([sys.executable, "-c", "pass"], 30.0)
    assert not ok.timed_out and ok.returncode == 0


def test_cpu_snapshot_counts_this_process_cpu():
    cpu0, steal0 = harness.cpu_snapshot(os.getpid())
    sum(i * i for i in range(2_000_000))
    cpu1, steal1 = harness.cpu_snapshot(os.getpid())
    assert cpu1 > cpu0 >= 0
    assert steal1 >= steal0 >= 0


def test_crawl_check_flags_a_broken_closure(tmp_path):
    files = gen.make_web_graph(4, SMALL, str(tmp_path / "g"))
    edges = pq.read_table(files.edges).to_pandas()
    seed = gen.pick_seeds(4, files.pages, 1)[0]
    links = edges.loc[edges["page_url"] == seed, "outlink_url"].tolist()
    urls = [seed] + sorted(set(links) - {seed})
    status = ["FETCHED"] + ["UNFETCHED"] * (len(urls) - 1)
    state = tmp_path / "state"
    state.mkdir()
    pd.DataFrame({"url": urls, "status": status}).to_parquet(state / "part-0.parquet")
    assert check_crawl_state(str(state), files.edges, [seed]) == []
    pd.DataFrame({"url": urls[:-1], "status": status[:-1]}).to_parquet(state / "part-0.parquet")
    assert any("closure" in p for p in check_crawl_state(str(state), files.edges, [seed]))
