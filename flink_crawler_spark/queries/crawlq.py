"""Crawl-pipeline queries with oracles over a *derived* web graph.

The graph is synthesized identically in both engines from ``part``:

    N     = row count of part
    id    = p_partkey % N                     (exactly 0..N-1)
    url   = http://d{id % 50}.example.com/p/{id}
    edges = id -> (2*id+1) % N,  id -> (3*id+7) % N

Three queries:
  * crawl_reachability — THE flagship: runs the real crawl loop
    (plans/crawl_loop.py — frontier/robots/politeness/fetch/parse/merge
    per tick) for 6 ticks from seed id=1; the oracle is a depth-limited
    recursive-CTE BFS. A crawl over a known graph *is* reachability, so
    any drift in frontier selection, fetch join, outlink extraction,
    normalization, or the merge lattice breaks the match.
  * robots_longest_match — Google-style allow/deny precedence evaluated
    JVM-side (array HOFs) vs DuckDB list lambdas.
  * html_outlink_extract — pages rendered + regex-parsed in Spark
    (operators/parse.py) vs ground-truth edges in the oracle: the parse
    path must reproduce the edge list exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.parse import outlink_output, parse_pages
from ..operators.robots import check_urls_against_robots
from ..sources.fixtures import render_pages
from .base import register, t

CRAWL_TICKS = 6  # fetch depth 0..5; depth-6 nodes discovered, unfetched

# 20 distinct PLDs (ex{0..19}.com) so per-domain windows parallelize —
# a single-PLD graph would serialize frontier selection and politeness
URL_SQL = (
    "'http://d' || CAST({id} % 50 AS VARCHAR) || '.ex' || CAST({id} % 20 AS VARCHAR)"
    " || '.com/p/' || CAST({id} AS VARCHAR)"
)


def _url_expr(id_col):
    return F.concat(
        F.lit("http://d"),
        (id_col % 50).cast("string"),
        F.lit(".ex"),
        (id_col % 20).cast("string"),
        F.lit(".com/p/"),
        id_col.cast("string"),
    )


def _edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    part = t(spark, sf_dir, "part")
    n = part.count()
    ids = part.select((F.col("p_partkey") % n).alias("id"))
    e1 = ids.select("id", ((2 * F.col("id") + 1) % n).alias("dst"))
    e2 = ids.select("id", ((3 * F.col("id") + 7) % n).alias("dst"))
    return e1.unionByName(e2), n


def _web_graph(spark: SparkSession, sf_dir: str, edges: DataFrame | None = None) -> DataFrame:
    if edges is None:
        edges, _ = _edges(spark, sf_dir)
    return edges.select(
        _url_expr(F.col("id")).alias("page_url"),
        F.lit(1.0).alias("page_score"),
        F.col("dst").cast("int").alias("outlink_pos"),
        _url_expr(F.col("dst")).alias("outlink_url"),
    )


EDGES_SQL = f"""
n AS (SELECT count(*) AS n FROM part),
ids AS (SELECT p_partkey % (SELECT n FROM n) AS id FROM part),
edges AS (
  SELECT id AS src, (2*id+1) % (SELECT n FROM n) AS dst FROM ids
  UNION ALL
  SELECT id AS src, (3*id+7) % (SELECT n FROM n) AS dst FROM ids
)
"""


@register(
    "crawl_reachability",
    oracle=f"""
WITH RECURSIVE {EDGES_SQL.strip()},
reach(id, d) AS (
  SELECT 1, 0
  UNION ALL
  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.id
  WHERE r.d < {CRAWL_TICKS}
),
depths AS (SELECT id, min(d) AS depth FROM reach GROUP BY id)
SELECT {URL_SQL.format(id="id")} AS url,
       CASE WHEN depth < {CRAWL_TICKS} THEN 'FETCHED' ELSE 'UNFETCHED' END AS status
FROM depths
""",
)
def crawl_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL crawl loop over the derived graph; compare final
    (url, status) against BFS depth. Tick t fetches depth t-1, so after
    T ticks: depth < T => FETCHED, depth == T => discovered UNFETCHED."""
    from ..plans.crawl_loop import CrawlConfig, crawl

    # ONE _edges call: its part.count() is an eager action, and
    # _web_graph would otherwise re-run it (r7 review finding)
    edges, n = _edges(spark, sf_dir)
    pages = render_pages(_web_graph(spark, sf_dir, edges))
    seeds = spark.createDataFrame([("http://d1.ex1.com/p/1", 1.0)], ["url", "score"])
    cfg = CrawlConfig(
        max_ticks=CRAWL_TICKS,
        max_queue_size=None,  # unbounded: skips the single-partition top-k stage
        max_per_domain=None,  # uncapped: the oracle BFS has no per-domain cap — skips the window outright (r13)
        force_crawl_delay_ms=0,
        trace=False,
        collect_stats=False,
        # size the loop's exchanges to the graph: ~25k URLs per shuffle
        # partition, floor 4 — results are partition-independent (oracle
        # pins them); the default-parallelism floor was 40% of this
        # query's wall time at sf0.1 (SCALE.md r7)
        shuffle_partitions=max(4, n // 25_000),
    )
    res = crawl(spark, seeds, pages=pages, config=cfg)
    return res.crawl_state.select("url", "status")


RULES_FROM_NATION_SQL = """
rules AS (
  SELECT 'http://d' || CAST(n_nationkey AS VARCHAR) || '.example.com' AS host_root,
         ['/p/' || CAST((n_nationkey*7) % 500 AS VARCHAR),
          '/p/' || CAST(((n_nationkey*13+3) % 500) // 10 AS VARCHAR)] AS disallow,
         CASE WHEN n_nationkey % 3 = 0
              THEN ['/p/' || CAST((n_nationkey*7) % 500 AS VARCHAR)]
              ELSE [] END AS allow,
         (n_nationkey % 5 + 1) * 1000 AS crawl_delay_ms
  FROM nation
)
"""


def _rules_from_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    nk = F.col("n_nationkey")
    return t(spark, sf_dir, "nation").select(
        F.concat(F.lit("http://d"), nk.cast("string"), F.lit(".example.com")).alias("host_root"),
        F.array(
            F.concat(F.lit("/p/"), ((nk * 7) % 500).cast("string")),
            F.concat(F.lit("/p/"), F.floor(((nk * 13 + 3) % 500) / 10).cast("string")),
        ).alias("disallow"),
        F.when(
            nk % 3 == 0,
            F.array(F.concat(F.lit("/p/"), ((nk * 7) % 500).cast("string"))),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("allow"),
        ((nk % 5 + 1) * 1000).cast("long").alias("crawl_delay_ms"),
        F.array().cast("array<string>").alias("sitemaps"),
    )


@register(
    "robots_longest_match",
    oracle=f"""
WITH obs AS (
  SELECT DISTINCT
         'http://d' || CAST(l_suppkey % 50 AS VARCHAR) || '.example.com/p/'
             || CAST(l_partkey % 500 AS VARCHAR) AS url,
         'http://d' || CAST(l_suppkey % 50 AS VARCHAR) || '.example.com' AS host_root,
         '/p/' || CAST(l_partkey % 500 AS VARCHAR) AS path
  FROM lineitem
),
{RULES_FROM_NATION_SQL.strip()},
j AS (
  SELECT o.url, o.path, r.host_root, r.disallow, r.allow, r.crawl_delay_ms
  FROM obs o LEFT JOIN rules r ON o.host_root = r.host_root
),
scored AS (
  SELECT url,
         coalesce(list_max(list_transform(disallow,
             x -> CASE WHEN starts_with(path, x) THEN length(x) ELSE 0 END)), 0) AS dis_len,
         coalesce(list_max(list_transform(allow,
             x -> CASE WHEN starts_with(path, x) THEN length(x) ELSE 0 END)), 0) AS allow_len,
         host_root IS NOT NULL AS has_rules,
         crawl_delay_ms
  FROM j
)
SELECT url,
       (has_rules AND dis_len > allow_len AND dis_len > 0) AS blocked,
       CAST(coalesce(crawl_delay_ms, 10000) AS BIGINT) AS crawl_delay_ms
FROM scored
""",
)
def robots_longest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """check_urls_against_robots over lineitem-derived URLs vs nation-derived
    rules — longest-match precedence, allow-wins-ties, missing rules =
    allow-all with the 10 s default delay."""
    li = t(spark, sf_dir, "lineitem")
    frontier = li.select(
        F.concat(
            F.lit("http://d"),
            (F.col("l_suppkey") % 50).cast("string"),
            F.lit(".example.com/p/"),
            (F.col("l_partkey") % 500).cast("string"),
        ).alias("url")
    ).distinct()
    rules = _rules_from_nation(spark, sf_dir)
    routed = check_urls_against_robots(frontier, rules)
    return routed.select(
        "url", (F.col("route") == "blocked").alias("blocked"), "crawl_delay_ms"
    )


# ---------------------------------------------------------------------------
# J3: CommonCrawl CDX secondary-index lookup (SURT keys + sort-merge join)
# ---------------------------------------------------------------------------

SURT_SQL = """
lower(
  array_to_string(list_reverse(string_split(
      regexp_replace(regexp_extract(lower({u}),
          '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1), '^www\\.', ''), '.')), ',')
  || CASE WHEN regexp_extract(lower({u}), '^[a-z][a-z0-9+.-]*://[^/:?#]*:([0-9]+)', 1)
               NOT IN ('', '80', '443')
          THEN ':' || regexp_extract(lower({u}), '^[a-z][a-z0-9+.-]*://[^/:?#]*:([0-9]+)', 1)
          ELSE '' END
  || ')'
  || CASE WHEN regexp_extract(lower({u}), '^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)', 1) = ''
          THEN '/'
          ELSE regexp_extract(lower({u}), '^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)', 1) END
)
"""


@register(
    "surt_cdx_lookup",
    oracle=f"""
WITH frontier AS (
  SELECT DISTINCT 'http://WWW.d' || CAST(l_suppkey % 50 AS VARCHAR)
             || '.example.com' || CASE l_linenumber % 3 WHEN 0 THEN ':80' ELSE '' END
             || '/p/' || CAST(l_partkey % 500 AS VARCHAR) AS url
  FROM lineitem
),
keyed AS (SELECT url, {SURT_SQL.format(u="url").strip()} AS surt_key FROM frontier),
idx AS (
  SELECT {SURT_SQL.format(u="'http://d' || CAST(p_partkey % 50 AS VARCHAR) || '.example.com/p/' || CAST(p_partkey % 500 AS VARCHAR)").strip()} AS surt_key,
         min(p_partkey % 100) AS segment
  FROM part GROUP BY 1
)
SELECT k.url, k.surt_key, i.segment
FROM keyed k LEFT JOIN idx i ON k.surt_key = i.surt_key
""",
)
def surt_cdx_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT canonicalization + CDX index join (J3). WWW/port-80 variants
    of the same page must collapse to one SURT key and find the segment;
    URLs outside the archive keep a null segment (-> 404 path)."""
    from ..operators.commoncrawl import cdx_lookup, surt_key_expr

    li = t(spark, sf_dir, "lineitem")
    frontier = li.select(
        F.concat(
            F.lit("http://WWW.d"),
            (F.col("l_suppkey") % 50).cast("string"),
            F.lit(".example.com"),
            F.when(F.col("l_linenumber") % 3 == 0, ":80").otherwise(""),
            F.lit("/p/"),
            (F.col("l_partkey") % 500).cast("string"),
        ).alias("url")
    ).distinct()
    part = t(spark, sf_dir, "part")
    idx = (
        part.select(
            surt_key_expr(
                F.concat(
                    F.lit("http://d"),
                    (F.col("p_partkey") % 50).cast("string"),
                    F.lit(".example.com/p/"),
                    (F.col("p_partkey") % 500).cast("string"),
                )
            ).alias("surt_key"),
            (F.col("p_partkey") % 100).alias("seg"),
        )
        .groupBy("surt_key")
        .agg(F.min("seg").alias("segment"))
    )
    return cdx_lookup(frontier, idx).select("url", "surt_key", "segment")


# ---------------------------------------------------------------------------
# U2: real sitemap-XML parse round-trip
# ---------------------------------------------------------------------------


@register(
    "sitemap_xml_roundtrip",
    oracle="""
SELECT DISTINCT
       'http://s' || CAST(o_custkey % 20 AS VARCHAR) || '.com/sitemap.xml' AS sitemap_url,
       'http://s' || CAST(o_custkey % 20 AS VARCHAR) || '.com/o/' || CAST(o_orderkey AS VARCHAR) AS url,
       1.0 AS score
FROM orders
""",
)
def sitemap_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render real <urlset> XML per sitemap (native concat), parse it
    with the actual XML parser UDF (operators/parse.py) — the extracted
    entries must reproduce the ground-truth pairs exactly."""
    from ..operators.parse import parse_sitemap_bodies

    od = t(spark, sf_dir, "orders")
    host = F.concat(F.lit("http://s"), (F.col("o_custkey") % 20).cast("string"), F.lit(".com"))
    entries = od.select(
        F.concat(host, F.lit("/sitemap.xml")).alias("url"),
        F.concat(host, F.lit("/o/"), F.col("o_orderkey").cast("string")).alias("entry"),
    ).distinct()
    xml = entries.groupBy("url").agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("entry")),
                    lambda e: F.concat(F.lit("<url><loc>"), e, F.lit("</loc></url>")),
                ),
            ),
            F.lit("</urlset>"),
        ).alias("body")
    )
    return parse_sitemap_bodies(xml)


@register(
    "html_outlink_extract",
    oracle=f"""
WITH {EDGES_SQL.strip()},
dedup AS (SELECT DISTINCT src, dst FROM edges),
counts AS (SELECT src, count(*) AS n FROM dedup GROUP BY src)
SELECT {URL_SQL.format(id="d.src")} AS source_url,
       {URL_SQL.format(id="d.dst")} AS url,
       round(1.0 / c.n, 6) AS score
FROM dedup d JOIN counts c ON d.src = c.src
""",
)
def html_outlink_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parse path: render pages -> regex href extraction -> outlink
    scores (page_score/n). The oracle computes ground-truth edges — any
    regex/HTML drift in operators/parse.py breaks the match."""
    pages = render_pages(_web_graph(spark, sf_dir))
    fetch_results = pages.select(
        F.col("page_url").alias("url"),
        F.lit(None).cast("string").alias("pld"),
        F.lit("FETCHED").alias("status"),
        F.lit(0).cast("long").alias("status_time"),
        F.encode(F.col("html"), "UTF-8").alias("content"),
    )
    parsed = parse_pages(fetch_results, max_outlinks=10_000_000)
    return outlink_output(parsed).select(
        "source_url", "url", F.round("score", 6).alias("score")
    )


@register(
    "html_tree_parse",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
parsed AS (
  SELECT 'http://p' || CAST(doc_id % 20 AS VARCHAR) || '.ex.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         'Doc & ' || CAST(doc_id AS VARCHAR) AS title,
         'Body ' || CAST(doc_id AS VARCHAR) || ' text A' || CAST(doc_id AS VARCHAR)
                 || ' B' || CAST(doc_id AS VARCHAR) || ' skip' AS parsed_text,
         CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 2 END AS n_outlinks,
         CASE WHEN doc_id % 7 = 0 THEN [NULL]
              ELSE ['http://b' || CAST(doc_id AS VARCHAR) || '.ex.com/dir/rel' || CAST(doc_id AS VARCHAR) || '.html',
                    'http://abs.ex.com/x?a=' || CAST(doc_id AS VARCHAR) || '&b=2']
         END AS links
  FROM d
)
SELECT url, title, parsed_text, CAST(n_outlinks AS INT) AS n_outlinks,
       unnest(links) AS outlink
FROM parsed
""",
)
def html_tree_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Tika-grade HTML tree parser (parse_pages_html) against an
    exact oracle: pages rendered with entities, base-href-relative and
    absolute links, per-anchor rel, and meta-robots nofollow on every
    7th doc. The oracle states what a correct parser MUST produce —
    entity decode, urljoin resolution, nofollow suppression — as plain
    string algebra over the same doc ids."""
    from ..operators.parse import parse_pages_html

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    i = F.col("doc_id").cast("string")
    nofollow = F.when(
        F.col("doc_id") % 7 == 0,
        F.lit('<meta name="ROBOTS" content="noindex, NOFOLLOW">'),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Doc &amp; "), i, F.lit("</title>"),
        F.lit('<base href="http://b'), i, F.lit('.ex.com/dir/">'),
        nofollow,
        F.lit("<script>var x = '<a href=\"http://nope.com/\">';</script>"),
        F.lit("</head>\n<body>Body "), i, F.lit(" text\n"),
        F.lit('<a href="rel'), i, F.lit('.html">A'), i, F.lit("</a>\n"),
        F.lit('<a href="http://abs.ex.com/x?a='), i, F.lit('&amp;b=2" rel="nofollow">B'),
        i, F.lit("</a>\n<a href=\"#frag\">skip</a></body></html>"),
    )
    fetch_results = docs.select(
        F.concat(
            F.lit("http://p"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".ex.com/doc/"), i,
        ).alias("url"),
        F.concat(F.lit("p"), (F.col("doc_id") % 20).cast("string"), F.lit(".ex.com")).alias("pld"),
        F.lit("FETCHED").alias("status"),
        F.encode(html, "UTF-8").alias("content"),
        F.lit(0).cast("long").alias("status_time"),
    )
    parsed = parse_pages_html(fetch_results)
    return parsed.select(
        "url", "title", "parsed_text", F.col("n_outlinks").cast("int").alias("n_outlinks"),
        F.explode_outer("outlinks").alias("outlink"),
    )


def _pagerank_sql(iters: int) -> str:
    """Unrolled PageRank iterations (d=0.85) with DECIMAL(38,18)
    contribution sums so both engines accumulate identically."""
    layers = []
    for i in range(1, iters + 1):
        layers.append(f"""
r{i} AS (
  SELECT nd.id,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(CAST(s.insum AS DOUBLE), 0.0) AS rank
  FROM nodes nd LEFT JOIN (
     SELECT e.dst AS id,
            sum(CAST(round(r.rank/d.outdeg, 12) AS DECIMAL(38,18))) AS insum
     FROM dedup e
     JOIN r{i-1} r ON r.id = e.src
     JOIN deg d    ON d.src = e.src
     GROUP BY e.dst
  ) s ON s.id = nd.id
)""")
    return ",".join(layers)


PAGERANK_ITERS = 5


@register(
    "pagerank_5iter",
    oracle=f"""
WITH {EDGES_SQL.strip()},
dedup AS (SELECT DISTINCT src, dst FROM edges),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM dedup UNION SELECT dst FROM dedup) x),
deg AS (SELECT src, count(*) AS outdeg FROM dedup GROUP BY src),
r0 AS (SELECT id, 1.0/(SELECT n FROM n) AS rank FROM nodes),
{_pagerank_sql(PAGERANK_ITERS).strip()}
SELECT id, rank FROM r{PAGERANK_ITERS}
""",
)
def pagerank_5iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 iterations, d=0.85) over the derived link graph — the
    iterative-algorithm pattern (link analysis is what the reference's
    crawl frontier approximates with link-score accumulation). Driver
    loop, one join+agg per iteration; contributions sum in
    DECIMAL(38,18) so a 1000-partition cluster and the single-threaded
    oracle produce bit-identical ranks. At 100 TB: same loop with the
    rank table bucketed by id (state_table pattern) and edges
    pre-partitioned once."""
    edges, n = _edges(spark, sf_dir)
    dedup = edges.select(F.col("id").alias("src"), "dst").distinct()
    nodes = (
        dedup.select(F.col("src").alias("id"))
        .unionByName(dedup.select(F.col("dst").alias("id")))
        .distinct()
    )
    deg = dedup.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            dedup.join(ranks, dedup.src == ranks.id)
            .join(F.broadcast(deg), "src")
            .select(
                F.col("dst"),
                F.round(F.col("rank") / F.col("outdeg"), 12)
                .cast("decimal(38,18)")
                .alias("c"),
            )
        )
        insum = contrib.groupBy(F.col("dst").alias("iid")).agg(
            F.sum("c").alias("insum")
        )
        ranks = nodes.join(insum, nodes.id == F.col("iid"), "left").select(
            "id",
            (
                F.lit(0.15 / n)
                + F.lit(0.85) * F.coalesce(F.col("insum").cast("double"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("id", "rank")


# ---------------------------------------------------------------------------
# Bounded single-source shortest path (Bellman-Ford, 8 relaxation rounds)
# — completes the iterative-algorithm family (PageRank = fixed-point,
# reachability = unweighted BFS, connected components = label prop; this
# adds WEIGHTED relaxation with min-fold). Weights are small integers so
# dist arithmetic is exact in both engines.

SSSP_ROUNDS = 8
# driver-relaxation gate: module-level so the path-equivalence test can
# force the distributed branch (tests/test_sssp_paths.py)
SSSP_DRIVER_MAX_EDGES = 5_000_000

# sparse derived graph: ~12k weighted edges over 5000 nodes at sf0.01
# (l_quantity is integral in this dataset, so Spark's truncating
# double->bigint cast and DuckDB's rounding cast agree)
SSSP_EDGES_SQL = """
edges AS (
  SELECT l_orderkey % 5000 AS src, (l_orderkey * 31 + l_partkey) % 5000 AS dst,
         min(CAST(l_quantity AS BIGINT) % 9 + 1) AS w
  FROM lineitem WHERE l_quantity <= 10 GROUP BY 1, 2
)
"""


def _sssp_sql(rounds: int) -> str:
    layers = []
    cur = "d0"
    for k in range(1, rounds + 1):
        layers.append(f"""
d{k} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {cur}
    UNION ALL
    SELECT e.dst AS node, p.dist + e.w AS dist
    FROM {cur} p JOIN edges e ON e.src = p.node
  ) u GROUP BY node
)""")
        cur = f"d{k}"
    return ",".join(layers)


@register(
    "sssp_bellman_ford",
    oracle=f"""
WITH {SSSP_EDGES_SQL.strip()},
d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
{_sssp_sql(SSSP_ROUNDS).strip()}
SELECT node, dist FROM d{SSSP_ROUNDS}
""",
)
def sssp_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-loop Bellman-Ford from node 0: each round relaxes every
    edge from the current frontier and min-folds into the distance
    table (join + union + groupBy-min — all exact integer arithmetic).
    The oracle is the identical recurrence unrolled as SQL CTE layers.
    At 100 TB: distance table bucketed by node (state_table pattern),
    edges partitioned once and reused every round; the min-fold
    partial-aggregates map-side so each round is one shuffle of the
    (small) changed set, not the full graph."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 10)
    edges = (
        li.select(
            (F.col("l_orderkey") % 5000).alias("src"),
            ((F.col("l_orderkey") * 31 + F.col("l_partkey")) % 5000).alias("dst"),
            (F.col("l_quantity").cast("bigint") % 9 + 1).alias("w0"),
        )
        .groupBy("src", "dst")
        .agg(F.min("w0").alias("w"))
        # materialize ONCE: without this every round's plan re-scans and
        # re-aggregates lineitem (8x the work); localCheckpoint severs the
        # lineage so each round reads the ~12k-row edge blocks directly
        .localCheckpoint(eager=True)
    )
    # r12 (guide §1.2/§8, the facility_location precedent): the graph is
    # MODULO-bounded (nodes < 5000, edges ≤ distinct (src,dst) pairs), so
    # under SSSP_DRIVER_MAX_EDGES the 8 relaxation rounds run on the
    # collected edge list in the driver — ALL-INTEGER arithmetic, so the
    # Python fold is exactly the distributed min-fold (no float rounding
    # anywhere). The distributed loop (one join+min-fold per round) is
    # kept for graphs past the gate; equivalence is just min-plus
    # associativity. Measured 4.4 s (record 3.80) -> ~0.6 s at sf0.1.
    if edges.count() <= SSSP_DRIVER_MAX_EDGES:
        rows = edges.collect()
        dist = {0: 0}
        for _ in range(SSSP_ROUNDS):
            new = dict(dist)
            for row in rows:
                d = dist.get(row[0])
                if d is not None:
                    nd = d + row[2]
                    cur = new.get(row[1])
                    if cur is None or nd < cur:
                        new[row[1]] = nd
            dist = new
        return spark.createDataFrame(
            [(int(k), int(v)) for k, v in sorted(dist.items())],
            "node bigint, dist bigint",
        )
    dist = spark.createDataFrame([(0, 0)], "node bigint, dist bigint")
    for r in range(SSSP_ROUNDS):
        relax = dist.join(F.broadcast(edges), dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = dist.unionByName(relax).groupBy("node").agg(F.min("dist").alias("dist"))
        if r == SSSP_ROUNDS // 2 - 1:
            # halve the analyzed/codegen'd plan depth: the 8-deep nested
            # agg tree's compile cost dwarfed its ≤5k-row compute
            # (measured 5.1 -> 2.7 s at sf0.1); one mid-loop checkpoint
            # job is the cheaper trade, exactly opposite to
            # facility_location's per-round checkpoints (whose frames
            # were consumed once each)
            dist = dist.localCheckpoint(eager=True)
    return dist.select("node", "dist")


# ---------------------------------------------------------------------------
# §2.15 extension surface: the page parser as a Python UDTF (one page in,
# N outlink rows out) — the literal Spark analogue of the reference's
# BasePageParser UDTF contract (parser/BasePageParser.java:20-48). Same
# oracle as html_outlink_extract: both mechanisms must produce the
# identical edge set. The UDTF runs row-at-a-time in the Python worker,
# so the expression path (regexp_extract_all + explode, html_outlink_
# extract) remains the hot-path choice; this exists to prove the plug-in
# contract end-to-end through a LATERAL join.


@register(
    "html_outlink_extract_udtf",
    oracle=f"""
WITH {EDGES_SQL.strip()},
dedup AS (SELECT DISTINCT src, dst FROM edges),
counts AS (SELECT src, count(*) AS n FROM dedup GROUP BY src)
SELECT {URL_SQL.format(id="d.src")} AS source_url,
       {URL_SQL.format(id="d.dst")} AS url,
       round(1.0 / c.n, 6) AS score
FROM dedup d JOIN counts c ON d.src = c.src
""",
)
def html_outlink_extract_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pyspark.sql.functions import udtf

    @udtf(returnType="source_url string, url string, n_links bigint")
    class ExtractOutlinks:
        def eval(self, source_url, html):
            import re

            if not html:
                return
            # ordered dedup, same as the expression path's array_distinct
            links = list(dict.fromkeys(re.findall(r'<a\s[^>]*href="([^"]*)"', html)))
            n = len(links)
            for href in links:
                yield source_url, href, n

    fn = "extract_outlinks_" + uuid.uuid4().hex[:8]
    spark.udtf.register(fn, ExtractOutlinks)
    pages = render_pages(_web_graph(spark, sf_dir))
    view = "pages_" + uuid.uuid4().hex[:8]
    pages.createOrReplaceTempView(view)
    out = spark.sql(
        f"SELECT f.source_url, f.url, f.n_links "
        f"FROM {view} p, LATERAL {fn}(p.page_url, p.html) f"
    )
    # score rounding stays JVM-side: SQL round is half-up like the
    # oracle's; Python round is half-even
    return out.select(
        "source_url", "url", F.round(F.lit(1.0) / F.col("n_links"), 6).alias("score")
    )


# ---------------------------------------------------------------------------
# Triangle counting + local clustering coefficient over the co-purchase
# graph (parts sharing an order). Completes the distributed-graph family
# (fixed-point, BFS, label-prop, weighted relaxation -> motif counting).
# The Spark plan uses DEGREE-ORDERED ORIENTATION (each undirected edge
# kept once, pointed from its lower-(degree,id) endpoint to the higher):
# every triangle is then generated by exactly one wedge, and the wedge
# count is bounded by sum(min-degree per edge) instead of sum(deg^2) —
# the standard trick that keeps motif counting feasible on skewed
# 100 TB graphs where a hub's deg^2 would explode the naive plan.

_TRI_UND_SQL = """
pe AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       FROM lineitem WHERE l_quantity <= 10),
und AS (SELECT DISTINCT a.p AS x, b.p AS y
        FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p)
"""


@register(
    "copurchase_triangles",
    oracle=f"""
WITH {_TRI_UND_SQL.strip()},
tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
        FROM und e1 JOIN und e2 ON e2.x = e1.y
        JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y),
deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM
          (SELECT x AS id FROM und UNION ALL SELECT y FROM und) d GROUP BY id),
pernode AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM
              (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri) v GROUP BY id)
SELECT deg.id AS id, deg.degree AS degree,
       coalesce(pernode.n_tri, 0) AS n_tri,
       CASE WHEN deg.degree < 2 THEN 0.0
            ELSE 2.0 * coalesce(pernode.n_tri, 0) / (deg.degree * (deg.degree - 1))
       END AS clustering
FROM deg LEFT JOIN pernode ON deg.id = pernode.id
""",
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient.

    Oriented wedge-closure plan: (1) derive undirected co-purchase edges,
    (2) orient each edge low->high by (degree, id) — a total order, so
    the oriented graph is acyclic and each triangle survives as exactly
    one wedge u->v, u->w with ord(v) < ord(w) closed by v->w, (3) join
    wedges against oriented edges, (4) explode each triangle's 3
    vertices and count. Degrees are a tiny table -> broadcast both
    orientation joins; clustering = 2T/d(d-1) is double arithmetic on
    exact integers, so both engines agree bitwise. Mirrors the naive
    a<b<c oracle exactly. (Reference has no graph analytics; this
    extends the web-graph family of SURVEY §2 beyond-reference ops.)
    """
    li = t(spark, sf_dir, "lineitem")
    pe = (
        li.filter(F.col("l_quantity") <= 10)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = pe.alias("a"), pe.alias("b")
    und = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .distinct()
    )
    deg = (
        und.select(F.col("x").alias("id"))
        .unionByName(und.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient low -> high in the (degree, id) total order
    e = (
        und.join(F.broadcast(deg).withColumnRenamed("id", "x").withColumnRenamed("degree", "dx"), "x")
        .join(F.broadcast(deg).withColumnRenamed("id", "y").withColumnRenamed("degree", "dy"), "y")
    )
    fwd = (F.col("dx") < F.col("dy")) | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    o = e.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("dst"),
        F.when(fwd, F.col("dy")).otherwise(F.col("dx")).alias("ddst"),
    )
    w1, w2 = o.alias("w1"), o.alias("w2")
    ord1 = (F.col("w1.ddst") < F.col("w2.ddst")) | (
        (F.col("w1.ddst") == F.col("w2.ddst")) & (F.col("w1.dst") < F.col("w2.dst"))
    )
    wedges = w1.join(w2, (F.col("w1.src") == F.col("w2.src")) & ord1).select(
        F.col("w1.src").alias("u"), F.col("w1.dst").alias("v"), F.col("w2.dst").alias("w")
    )
    closure = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closure, ["v", "w"], "left_semi")
    pernode = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return deg.join(pernode, "id", "left").select(
        "id",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            F.lit(2.0)
            * F.coalesce(F.col("n_tri"), F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1))
        )
        .alias("clustering"),
    )


# --------------------------------------------------------------------------
# multi-format parse dispatch (U1 full parity: SimplePageParser.java:180-205
# AutoDetectParser dispatch + watchdog). Fixture: every document rendered as
# HTML / plain text / unsupported binary by doc_id % 3; the Spark side runs
# the REAL dispatcher (mapInPandas + per-doc concurrent.futures watchdog),
# the oracle recomputes title/text/status with string ops. The PDF and
# timeout branches are pinned by tests/test_multiformat_parse.py (binary
# fixtures are not SQL-expressible).
# --------------------------------------------------------------------------


@register(
    "parse_multiformat",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS nt
  FROM documents
)
SELECT doc_id,
       CASE doc_id % 6 WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/plain'
            WHEN 2 THEN 'application/rss+xml' WHEN 3 THEN 'application/atom+xml'
            WHEN 4 THEN 'application/xml'
            ELSE 'application/octet-stream' END AS content_type,
       CASE WHEN doc_id % 6 = 5 THEN 'SKIPPED_UNSUPPORTED_TYPE' ELSE 'PARSED' END
         AS parse_status,
       CASE doc_id % 6
            WHEN 0 THEN 'doc ' || id
            WHEN 2 THEN 'feed ' || id
            WHEN 3 THEN 'afeed ' || id
            ELSE '' END AS title,
       CASE doc_id % 6
            WHEN 0 THEN nt || ' more'
            WHEN 1 THEN nt
            WHEN 2 THEN 'item ' || id || 'a ' || nt || ' item ' || id || 'b'
            WHEN 3 THEN 'e ' || id || ' ' || nt
            ELSE '' END AS parsed_text,
       CASE doc_id % 6
            WHEN 0 THEN 'http://out.example.com/' || id
            WHEN 2 THEN 'http://feed.example.com/' || id
                        || '/1|http://feed.example.com/' || id || '/2'
            WHEN 3 THEN 'http://feed.example.com/' || id || '/a'
            WHEN 4 THEN 'http://site.example.com/' || id
                        || '/1|http://site.example.com/' || id || '/2'
            ELSE '' END AS outlinks_joined
FROM d
""",
)
def parse_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 full Tika-breadth parity (SimplePageParser.java:180-205):
    every document rendered as one of SIX wire formats by doc_id % 6 —
    HTML, plain text, RSS 2.0, Atom, XML sitemap (served as
    application/xml to exercise the root-sniffing auto-detect), and an
    unsupported binary — and pushed through the REAL dispatcher
    (mapInPandas + per-doc watchdog). The oracle recomputes
    title/text/outlinks with string ops; the PDF and timeout branches
    are pinned by tests/test_multiformat_parse.py (binary fixtures are
    not SQL-expressible)."""
    from ..operators import ensure_parallelism
    from ..operators.parse import parse_pages_multiformat

    # r12 (guide §2.5): the single-row-group documents scan would run the
    # whole mapInPandas dispatcher on ONE task — spread before rendering
    docs = ensure_parallelism(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.regexp_replace(F.trim(F.col("text")), r"\s+", " ").alias("nt"),
    )
    did = F.col("doc_id")
    sid = did.cast("string")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        sid,
        F.lit("</title></head><body>"),
        F.col("nt"),
        F.lit(' <a href="http://out.example.com/'),
        sid,
        F.lit('">more</a></body></html>'),
    )
    rss = F.concat(
        F.lit('<?xml version="1.0"?><rss version="2.0"><channel><title>feed '),
        sid,
        F.lit("</title><item><title>item "),
        sid,
        F.lit("a</title><link>http://feed.example.com/"),
        sid,
        F.lit("/1</link><description>"),
        F.col("nt"),
        F.lit("</description></item><item><title>item "),
        sid,
        F.lit("b</title><link>http://feed.example.com/"),
        sid,
        F.lit("/2</link></item></channel></rss>"),
    )
    atom = F.concat(
        F.lit('<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">'
              "<title>afeed "),
        sid,
        F.lit("</title><entry><title>e "),
        sid,
        F.lit('</title><link href="http://feed.example.com/'),
        sid,
        F.lit('/a"/><summary>'),
        F.col("nt"),
        F.lit("</summary></entry></feed>"),
    )
    smap = F.concat(
        F.lit('<?xml version="1.0"?>'
              '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<url><loc>http://site.example.com/"),
        sid,
        F.lit("/1</loc></url><url><loc>http://site.example.com/"),
        sid,
        F.lit("/2</loc></url></urlset>"),
    )
    ctype = (
        F.when(did % 6 == 0, "text/html")
        .when(did % 6 == 1, "text/plain")
        .when(did % 6 == 2, "application/rss+xml")
        .when(did % 6 == 3, "application/atom+xml")
        .when(did % 6 == 4, "application/xml")
        .otherwise("application/octet-stream")
    )
    body = (
        F.when(did % 6 == 0, html)
        .when(did % 6 == 2, rss)
        .when(did % 6 == 3, atom)
        .when(did % 6 == 4, smap)
        .otherwise(F.col("nt"))
    )
    fetch_rows = docs.select(
        F.concat(F.lit("http://docs.example.com/"), sid).alias("url"),
        F.lit("docs.example.com").alias("pld"),
        F.lit("FETCHED").alias("status"),
        F.lit(0).cast("long").alias("status_time"),
        F.encode(body, "UTF-8").alias("content"),
        ctype.alias("content_type"),
        did,
    )
    parsed = parse_pages_multiformat(
        fetch_rows.select("url", "pld", "status", "status_time", "content", "content_type")
    )
    # doc_id rides in the url — re-derive it instead of joining back to the
    # fixture (the join would be a pointless extra shuffle at scale)
    pid = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    ptype = (
        F.when(pid % 6 == 0, "text/html")
        .when(pid % 6 == 1, "text/plain")
        .when(pid % 6 == 2, "application/rss+xml")
        .when(pid % 6 == 3, "application/atom+xml")
        .when(pid % 6 == 4, "application/xml")
        .otherwise("application/octet-stream")
    )
    # The driver's canonicalizer sorts every output column with pandas,
    # which cannot hash/sort list cells — emit the outlink array joined
    # to one scalar string ('|' separator). The array form stays on the
    # pytest path (tests/test_multiformat_parse.py).
    return parsed.select(
        pid.alias("doc_id"),
        ptype.alias("content_type"),
        "parse_status",
        "title",
        "parsed_text",
        F.array_join("outlinks", "|").alias("outlinks_joined"),
    )


# --------------------------------------------------------------------------
# crawl_reachability_rcte — the same BFS as a NATIVE recursive CTE
# --------------------------------------------------------------------------

# ONE dialect-shared SQL text ({part} = table name): Spark 4's WITH
# RECURSIVE runs it natively, DuckDB runs the identical text as the
# oracle. Third implementation of the crawl frontier fixpoint (driver
# loop / recursive SQL / oracle) — all three must agree. Casts are
# explicit because Spark does not widen types across the recursion
# boundary (anchor INT vs step BIGINT is an analysis error, not a
# coercion).
RCTE_TMPL = f"""
WITH RECURSIVE
n AS (SELECT count(*) AS n FROM {{part}}),
ids AS (SELECT p_partkey % (SELECT n FROM n) AS id FROM {{part}}),
edges AS (
  SELECT id AS src, (2*id+1) % (SELECT n FROM n) AS dst FROM ids
  UNION ALL
  SELECT id AS src, (3*id+7) % (SELECT n FROM n) AS dst FROM ids
),
reach(id, d) AS (
  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
  UNION ALL
  SELECT CAST(e.dst AS BIGINT), r.d + CAST(1 AS BIGINT)
  FROM reach r JOIN edges e ON e.src = r.id WHERE r.d < {CRAWL_TICKS}
),
depths AS (SELECT id, min(d) AS depth FROM reach GROUP BY id)
SELECT 'http://d' || CAST(id % 50 AS STRING) || '.ex' || CAST(id % 20 AS STRING)
       || '.com/p/' || CAST(id AS STRING) AS url,
       CASE WHEN depth < {CRAWL_TICKS} THEN 'FETCHED' ELSE 'UNFETCHED' END AS status
FROM depths
"""


@register("crawl_reachability_rcte", oracle=RCTE_TMPL.format(part="part"))
def crawl_reachability_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-frontier fixpoint as a native Spark recursive CTE
    (Spark 4 WITH RECURSIVE) over the same derived graph and depth limit
    as `crawl_reachability` — the declarative twin of the driver-loop
    iteration (the reference's Flink iteration, SURVEY §2.14). Spark
    executes each recursion level as one distributed join against the
    previous level; the working set here is path-bounded (single seed,
    out-degree 2, depth 6), and at corpus scale the driver-loop form
    with its localCheckpoint-per-tick remains the managed path."""
    import uuid

    view = "part_rcte_" + uuid.uuid4().hex[:8]
    t(spark, sf_dir, "part").createOrReplaceTempView(view)
    return spark.sql(RCTE_TMPL.format(part=view))


# ---------------------------------------------------------------------------
# F4: HandleFailedSiteMapFunction — failed-sitemap side output
# ---------------------------------------------------------------------------


@register(
    "sitemap_failed_report",
    oracle="""
WITH adv AS (
  SELECT DISTINCT 'http://s' || CAST(c_custkey % 40 AS VARCHAR) || '.com/sitemap.xml' AS url,
         's' || CAST(c_custkey % 40 AS VARCHAR) || '.com' AS pld
  FROM customer
),
hit AS (
  SELECT DISTINCT 'http://s' || CAST(o_custkey % 20 AS VARCHAR) || '.com/sitemap.xml' AS url
  FROM orders
)
SELECT a.url, a.pld, 'HTTP_NOT_FOUND' AS status
FROM adv a LEFT JOIN hit h USING (url)
WHERE h.url IS NULL
""",
)
def sitemap_failed_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 HandleFailedSiteMapFunction parity
    (functions/HandleFailedSiteMapFunction.java:21-30): advertised
    sitemaps that fetch nothing surface as a failure side output (the
    reference logs them and passes everything through). 40 hosts
    advertise a sitemap (customer-derived); only 20 have entries
    (orders-derived) — the other 20 report HTTP_NOT_FOUND through the
    real sitemap_fetch_status + failed_sitemaps operators."""
    from ..operators.parse import failed_sitemaps, sitemap_fetch_status

    cust = t(spark, sf_dir, "customer")
    adv = cust.select(
        F.concat(
            F.lit("http://s"), (F.col("c_custkey") % 40).cast("string"), F.lit(".com/sitemap.xml")
        ).alias("url")
    )
    od = t(spark, sf_dir, "orders")
    entries = od.select(
        F.concat(
            F.lit("http://s"), (F.col("o_custkey") % 20).cast("string"), F.lit(".com/sitemap.xml")
        ).alias("sitemap_url")
    )
    statuses = sitemap_fetch_status(adv, entries, now_ms=0)
    return failed_sitemaps(statuses).select("url", "pld", "status")


# ---------------------------------------------------------------------------
# F2 full pattern semantics: RFC 9309 wildcards (*) and end anchors ($)
# ---------------------------------------------------------------------------

# DuckDB twin of operators/robots.py::_rule_hit_len — rule -> anchored
# RE2 pattern (escape metachars, * -> .*, trailing $ kept as anchor),
# specificity = rule length, plain rules on the cheap starts_with path.
_DUCK_RULE_HIT = r"""
CASE WHEN (NOT contains({x}, '*')) AND (NOT ends_with({x}, '$'))
     THEN CASE WHEN starts_with(path, {x}) THEN length({x}) ELSE 0 END
     ELSE CASE WHEN regexp_matches(path,
            '^' || replace(regexp_replace(
                CASE WHEN ends_with({x}, '$') THEN substr({x}, 1, length({x})-1)
                     ELSE {x} END,
                '([.^$+?(){{}}\[\]|\\\\])', '\\\1', 'g'), '*', '.*')
            || CASE WHEN ends_with({x}, '$') THEN '$' ELSE '' END)
          THEN length({x}) ELSE 0 END END
""".strip()


@register(
    "robots_wildcard_match",
    oracle=f"""
WITH obs AS (
  SELECT DISTINCT
         'http://w' || CAST(l_suppkey % 25 AS VARCHAR) || '.example.com/p/'
             || CAST(l_partkey % 500 AS VARCHAR) AS url,
         'http://w' || CAST(l_suppkey % 25 AS VARCHAR) || '.example.com' AS host_root,
         '/p/' || CAST(l_partkey % 500 AS VARCHAR) AS path
  FROM lineitem
),
rules AS (
  SELECT 'http://w' || CAST(n_nationkey AS VARCHAR) || '.example.com' AS host_root,
         ['/p/*' || CAST(n_nationkey % 10 AS VARCHAR),
          '/p/' || CAST((n_nationkey * 13 + 3) % 500 AS VARCHAR) || '$'] AS disallow,
         ['/p/' || CAST((n_nationkey * 7) % 10 AS VARCHAR)] AS allow
  FROM nation
),
j AS (
  SELECT o.url, o.path, r.host_root, r.disallow, r.allow
  FROM obs o LEFT JOIN rules r ON o.host_root = r.host_root
),
scored AS (
  SELECT url,
         coalesce(list_max(list_transform(disallow, x -> {_DUCK_RULE_HIT.format(x='x')})), 0)
           AS dis_len,
         coalesce(list_max(list_transform(allow, x -> {_DUCK_RULE_HIT.format(x='x')})), 0)
           AS allow_len,
         host_root IS NOT NULL AS has_rules
  FROM j
)
SELECT url, (has_rules AND dis_len > allow_len AND dis_len > 0) AS blocked
FROM scored
""",
)
def robots_wildcard_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 with full RFC 9309 pattern semantics: '*' wildcards and '$'
    end anchors in allow/disallow rules (crawler-commons parity — the
    plain-prefix evaluator silently under-blocks on real robots.txt,
    where wildcard rules are routine). 25 hosts carry one wildcard
    disallow ('/p/*<d>': any path with digit d after the prefix), one
    anchored exact disallow, and one plain allow whose longest-match
    precedence must interleave correctly with the pattern rules."""
    li = t(spark, sf_dir, "lineitem")
    frontier = li.select(
        F.concat(
            F.lit("http://w"),
            (F.col("l_suppkey") % 25).cast("string"),
            F.lit(".example.com/p/"),
            (F.col("l_partkey") % 500).cast("string"),
        ).alias("url")
    ).distinct()
    nk = F.col("n_nationkey")
    rules = t(spark, sf_dir, "nation").select(
        F.concat(F.lit("http://w"), nk.cast("string"), F.lit(".example.com")).alias("host_root"),
        F.array(
            F.concat(F.lit("/p/*"), (nk % 10).cast("string")),
            F.concat(F.lit("/p/"), ((nk * 13 + 3) % 500).cast("string"), F.lit("$")),
        ).alias("disallow"),
        F.array(
            F.concat(F.lit("/p/"), ((nk * 7) % 10).cast("string")),
        ).alias("allow"),
        F.lit(None).cast("long").alias("crawl_delay_ms"),
        F.array().cast("array<string>").alias("sitemaps"),
    )
    routed = check_urls_against_robots(frontier, rules)
    return routed.select("url", (F.col("route") == "blocked").alias("blocked"))


# ---------------------------------------------------------------------------
# Adaptive re-crawl scheduling (beyond-reference crawl-ops: the refetch
# policy real crawlers run on top of next_fetch_time)
# ---------------------------------------------------------------------------

RECRAWL_INIT_H = 24    # first interval: 1 day
RECRAWL_MAX_H = 720    # back off to at most 30 days
RECRAWL_MIN_H = 1      # tighten to at least 1 hour


@register(
    "recrawl_schedule",
    oracle=f"""
WITH f AS (
  SELECT 'http://rc' || CAST(l_partkey % 2000 AS VARCHAR) || '.example.com/' AS url,
         epoch_ms(CAST(l_shipdate AS TIMESTAMP)) AS ts,
         l_orderkey AS ok, l_linenumber AS ln,
         md5(CAST(CAST(floor(l_quantity / 10) AS INTEGER) AS VARCHAR)) AS dg
  FROM lineitem
),
h AS (
  SELECT url,
         list(struct_pack(ts := ts, ok := ok, ln := ln, dg := dg)
              ORDER BY ts, ok, ln) AS hist
  FROM f GROUP BY url
),
x AS (
  SELECT url, hist,
         list_transform(hist, s -> s.dg) AS digs,
         len(hist) AS n
  FROM h
),
fl AS (
  SELECT url, hist, n,
         CASE WHEN n >= 2
              THEN list_transform(generate_series(2, n),
                     i -> CASE WHEN digs[i] != digs[i-1]
                               THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)
              ELSE CAST([] AS BIGINT[]) END AS flags
  FROM x
)
SELECT url,
       CAST(n AS BIGINT) AS n_fetches,
       CAST(coalesce(list_sum(flags), 0) AS BIGINT) AS n_changes,
       CAST(CASE WHEN len(flags) = 0 THEN {RECRAWL_INIT_H}
            ELSE list_reduce(list_prepend(CAST({RECRAWL_INIT_H} AS BIGINT), flags),
                   (a, f) -> CASE WHEN f = 1
                                  THEN greatest(a // 2, {RECRAWL_MIN_H})
                                  ELSE least(a * 2, {RECRAWL_MAX_H}) END)
            END AS BIGINT) AS interval_hours,
       CAST(hist[n].ts + (CASE WHEN len(flags) = 0 THEN {RECRAWL_INIT_H}
            ELSE list_reduce(list_prepend(CAST({RECRAWL_INIT_H} AS BIGINT), flags),
                   (a, f) -> CASE WHEN f = 1
                                  THEN greatest(a // 2, {RECRAWL_MIN_H})
                                  ELSE least(a * 2, {RECRAWL_MAX_H}) END)
            END) * 3600000 AS BIGINT) AS next_fetch_ms
FROM fl
""",
)
def recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive refetch policy (AIMD-style, the standard freshness
    heuristic): per URL, walk the fetch history in time order — an
    unchanged content digest DOUBLES the refetch interval (cap 30 d), a
    changed one HALVES it (floor 1 h) — and schedule the next fetch.
    The stateful walk is an exact integer fold (aggregate over the
    per-URL change-flag array; DuckDB runs the identical fold via
    list_reduce), so both engines agree bit-for-bit.

    Scale shape: one groupBy(url) with map-side combine builds the
    bounded per-URL history (fetch counts per URL are small by
    construction — the policy itself caps them); the fold is per-row
    array math, no further shuffle. Feeds straight into the URL DB's
    next_fetch_time lattice slot."""
    from ..queries.base import ts_millis

    li = t(spark, sf_dir, "lineitem")
    f = li.select(
        F.concat(
            F.lit("http://rc"), (F.col("l_partkey") % 2000).cast("string"),
            F.lit(".example.com/"),
        ).alias("url"),
        ts_millis(F.col("l_shipdate")).alias("ts"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.md5(
            F.encode(F.floor(F.col("l_quantity") / 10).cast("int").cast("string"), "UTF-8")
        ).alias("dg"),
    )
    h = f.groupBy("url").agg(
        F.array_sort(F.collect_list(F.struct("ts", "ok", "ln", "dg"))).alias("hist")
    )
    n = F.size("hist")
    digs = F.transform("hist", lambda s: s["dg"])
    flags = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(2), n),
            lambda i: (F.element_at(digs, i) != F.element_at(digs, i - 1)).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    interval = F.aggregate(
        flags,
        F.lit(RECRAWL_INIT_H).cast("long"),
        lambda a, fch: F.when(
            fch == 1, F.greatest(F.floor(a / 2).cast("long"), F.lit(RECRAWL_MIN_H).cast("long"))
        ).otherwise(F.least(a * 2, F.lit(RECRAWL_MAX_H).cast("long"))),
    )
    last_ts = F.element_at(F.col("hist"), -1)["ts"]
    return h.select(
        "url",
        n.cast("long").alias("n_fetches"),
        F.coalesce(
            F.aggregate(flags, F.lit(0).cast("long"), lambda a, v: a + v), F.lit(0)
        ).alias("n_changes"),
        interval.alias("interval_hours"),
        (last_ts + interval * 3_600_000).cast("long").alias("next_fetch_ms"),
    )
