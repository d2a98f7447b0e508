"""Property-based tests (hypothesis) — the upgrade over the reference's
all-golden test strategy (SURVEY §5: "No randomized/property-based
testing" in flink-crawler).

The merge lattice must be a commutative monoid fold for the set-based
re-architecture to be sound: `merge_updates` re-aggregates (state ∪
updates) in arbitrary partition order, and `merge_updates_join`
pre-aggregates the delta — both are only correct because the pairwise
merge is commutative and associative. These properties are exactly what
we randomize. (Scores are drawn as integer-valued doubles so float
addition is exact and associativity holds bit-for-bit, matching the
decimal discipline the SQL layer applies.)
"""

from __future__ import annotations

from functools import reduce

from hypothesis import example, given, settings
from hypothesis import strategies as st

from flink_crawler_spark.functions.urls import normalize_url
from flink_crawler_spark.schemas import FETCH_STATUSES
from flink_crawler_spark.streaming.url_db import merge_one

obs_st = st.tuples(
    st.sampled_from(FETCH_STATUSES),
    st.integers(min_value=0, max_value=10**12),          # status_time
    st.integers(min_value=0, max_value=10**6).map(float), # score (exact doubles)
    st.integers(min_value=0, max_value=10**12),          # next_fetch_time
)


def m(a, b):
    return merge_one(a, *b)


@given(obs_st, obs_st)
@settings(max_examples=300)
def test_merge_commutative(a, b):
    assert m(a, b) == m(b, a)


@given(obs_st, obs_st, obs_st)
@settings(max_examples=300)
def test_merge_associative(a, b, c):
    assert m(m(a, b), c) == m(a, m(b, c))


@given(obs_st)
@settings(max_examples=100)
def test_merge_identity_and_idempotence_of_winners(a):
    # None is the identity
    assert merge_one(None, *a) == a
    # merging a non-UNFETCHED row with itself yields itself; UNFETCHED
    # self-merge doubles the score (link accumulation, by design)
    out = m(a, a)
    if a[0] != "UNFETCHED":
        assert out == a
    else:
        assert out == ("UNFETCHED", a[1], a[2] * 2, a[3])


@given(st.lists(obs_st, min_size=1, max_size=12), st.randoms())
@settings(max_examples=200)
def test_merge_fold_order_invariant(rows, rnd):
    """Any permutation folds to the same row — the property that makes
    partition-order-nondeterministic aggregation exact."""
    base = reduce(m, rows[1:], rows[0])
    shuffled = list(rows)
    rnd.shuffle(shuffled)
    assert reduce(m, shuffled[1:], shuffled[0]) == base


URLISH = st.text(
    alphabet="abcXYZ019.-_/:?&=%#~ +", min_size=1, max_size=60
).map(lambda s: "http://ex.com/" + s)


@given(URLISH)
@example("http://ex.com//../")  # an empty segment once hid ".." until a second pass
@settings(max_examples=300)
def test_normalizer_idempotent(u):
    once = normalize_url(u)
    assert normalize_url(once) == once


def test_spark_column_normalizer_agrees_on_empty_segment_dotdot(spark):
    """The Spark-column normalizer (the pandas UDF over normalize_url)
    resolves "//../" in one pass, like the Python function."""
    from flink_crawler_spark.functions.urls import normalize_url_udf

    df = spark.createDataFrame([("http://ex.com//../",), ("http://ex.com/a//../b",)], ["u"])
    once = df.select(normalize_url_udf("u").alias("u"))
    twice = once.select(normalize_url_udf("u").alias("u"))
    assert [r["u"] for r in once.collect()] == ["http://ex.com/", "http://ex.com/b"]
    assert [r["u"] for r in twice.collect()] == ["http://ex.com/", "http://ex.com/b"]


@given(st.sampled_from([
    "example.com", "HTTP://EXAMPLE.COM:80/", "http://example.com/a/../b",
    "http://example.com/index.html", "http://example.com/?jsessionid=123",
]))
def test_normalizer_produces_scheme(u):
    assert normalize_url(u).startswith(("http://", "https://"))


# ---------------------------------------------------------------------------
# Politeness under parallelism (VERDICT item 7).
# Reference guarantee: one domain = one subtask
# (topology/CrawlTopologyBuilder.java:365-377, keyBy(pld)); the repo's
# equivalents are politeness_split's per-pld slot assignment and
# http_fetch's repartition("pld") + sortWithinPartitions. Randomized
# frontiers, not golden examples.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F

# crawl delay is a PER-DOMAIN fact (robots join) — derive it from the pld
# index so a domain never carries two different delays
_PLD_DELAYS = (None, 1_000, 2_500, 10_000, 20_000, None)

frontier_row_st = st.tuples(
    st.integers(min_value=0, max_value=5),        # pld index
    st.integers(min_value=0, max_value=10**4),    # path / uniqueness
    st.integers(min_value=0, max_value=100),      # score
)


def _frontier(spark, rows, with_delay):
    seen = set()
    data = []
    for pld_i, path, score in rows:
        delay = _PLD_DELAYS[pld_i]
        url = f"http://d{pld_i}.com/p/{path}"
        if url in seen:
            continue
        seen.add(url)
        data.append((url, f"d{pld_i}.com", float(score), delay))
    df = spark.createDataFrame(
        data, "url string, pld string, score double, crawl_delay_ms long"
    )
    return df if with_delay else df.drop("crawl_delay_ms")


@given(st.lists(frontier_row_st, min_size=1, max_size=40))
@settings(max_examples=8, deadline=None)
def test_politeness_slots_respect_crawl_delay(spark, rows):
    from flink_crawler_spark.operators.fetch import politeness_split

    now, tick = 1_000_000, 10_000
    out = politeness_split(
        _frontier(spark, rows, with_delay=True), now_ms=now, tick_ms=tick
    ).collect()
    by_pld = {}
    for r in out:
        by_pld.setdefault(r["pld"], []).append(r)
    for pld, group in by_pld.items():
        delay = group[0]["crawl_delay_ms"] or 10_000
        times = sorted(r["fetch_time"] for r in group)
        assert times[0] == now
        # spacing: consecutive slots exactly one crawl delay apart
        assert all(b - a == delay for a, b in zip(times, times[1:]))
        for r in group:
            in_window = r["fetch_time"] < now + tick
            assert (r["route"] == "fetch") == in_window


@given(st.lists(frontier_row_st, min_size=1, max_size=25))
@settings(max_examples=5, deadline=None)
def test_http_fetch_never_splits_a_domain_across_tasks(spark, rows):
    """Every pld lands in exactly one http_fetch task, and within it the
    fetcher sees that domain's URLs in fetch_time (slot) order."""
    from flink_crawler_spark.operators.fetch import http_fetch, politeness_split

    import itertools

    now = 1_000_000
    frontier = politeness_split(
        _frontier(spark, rows, with_delay=True), now_ms=now, tick_ms=10**9
    )
    seq_counter = itertools.count()  # per-task copy: monotone within a task

    def fetcher(url):
        from pyspark import TaskContext

        stamp = f"{TaskContext.get().partitionId()}:{next(seq_counter)}"
        return (200, stamp.encode(), "text/html")

    out = http_fetch(frontier, fetcher=fetcher, now_ms=now).collect()
    assert all(r["status"] == "FETCHED" for r in out)

    slot_of = {r["url"]: r["fetch_time"] for r in frontier.collect()}
    parts: dict[str, set] = {}
    calls: dict[str, list] = {}
    for r in out:
        pld = r["pld"]
        pid, seq = (int(x) for x in bytes(r["content"]).decode().split(":"))
        parts.setdefault(pld, set()).add(pid)
        calls.setdefault(pld, []).append((seq, slot_of[r["url"]]))
    for pld, pids in parts.items():
        assert len(pids) == 1, f"domain {pld} split across tasks {pids}"
    for pld, pairs in calls.items():
        slots = [slot for _, slot in sorted(pairs)]
        assert slots == sorted(slots), f"domain {pld} fetched out of slot order"


# ---------------------------------------------------------------------------
# Charset detection/decoding total-function properties (functions/charset.py)
# — a crawler's decode must NEVER raise, whatever bytes and whatever lying
# Content-Type header the wire delivers.
# ---------------------------------------------------------------------------

import codecs as _codecs

from flink_crawler_spark.functions.charset import decode_bytes, detect_charset

_ct_st = st.one_of(
    st.none(),
    st.text(max_size=40),
    st.sampled_from([
        "text/html", "text/html; charset=utf-8", "text/html; charset=ISO-8859-1",
        "text/html; charset=shift_jis", "text/html; charset=x-not-a-charset",
        'text/html; charset="utf-16"', "application/pdf",
    ]),
)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=200), _ct_st)
def test_decode_bytes_is_total(content, content_type):
    # never raises; always returns str; detected codec always resolvable
    out = decode_bytes(content, content_type)
    assert isinstance(out, str)
    assert _codecs.lookup(detect_charset(content, content_type)) is not None


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=100))
def test_decode_bytes_utf8_roundtrip(text):
    # valid undeclared UTF-8 always roundtrips exactly
    assert decode_bytes(text.encode("utf-8"), None) == text


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=100), _ct_st)
def test_bom_always_wins(content, content_type):
    # a UTF-8 BOM prefix forces utf-8-sig regardless of declared charset
    assert detect_charset(b"\xef\xbb\xbf" + content, content_type) == "utf-8-sig"


# ---------------------------------------------------------------------------
# UTF-16 validity expression == Python's strict decoder (charset.py)
# — the JVM-side guard must accept exactly the byte strings Spark's
# decode can survive, i.e. strict-decodable UTF-16.
# ---------------------------------------------------------------------------

# byte strings biased toward surrogate-range bytes so pairing logic is
# actually exercised (uniform bytes almost never form surrogates)
_u16_bytes_st = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0xD8, max_value=0xDF),  # surrogate high bytes
        st.just(0x00),
    ),
    min_size=0,
    max_size=24,
).map(bytes)


@given(st.lists(_u16_bytes_st, min_size=1, max_size=24))
@settings(max_examples=6, deadline=None)
def test_utf16_valid_expr_matches_python_strict_decode(spark, byte_rows):
    from flink_crawler_spark.functions.charset import utf16_valid_expr

    df = spark.createDataFrame([(b,) for b in byte_rows], "content binary")
    got = df.select(
        utf16_valid_expr(F.col("content"), big_endian=False).alias("le"),
        utf16_valid_expr(F.col("content"), big_endian=True).alias("be"),
    ).collect()

    def ok(b: bytes, codec: str) -> bool:
        try:
            b.decode(codec, "strict")
            return True
        except UnicodeDecodeError:
            return False

    for b, r in zip(byte_rows, got):
        assert r.le == ok(b, "utf-16-le"), f"LE mismatch on {b!r}"
        assert r.be == ok(b, "utf-16-be"), f"BE mismatch on {b!r}"
