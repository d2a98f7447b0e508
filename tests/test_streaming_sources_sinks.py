"""Streaming UrlDB state, seed stream, WARC sink, CLI."""

from __future__ import annotations

import gzip
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------------------------
# stateful streaming URL DB
# ----------------------------------------------------------------------


def test_url_db_stateful_merges_across_batches(spark, tmp_path):
    """Two micro-batches: state persists between them; the second batch's
    emission reflects the first batch's merge (UNFETCHED scores sum)."""
    from flink_crawler_spark.streaming.url_db import OBS_SCHEMA, url_db_stateful

    b1 = spark.createDataFrame(
        [("u1", "d.com", "UNFETCHED", 100, 1.0, 500)], schema=OBS_SCHEMA
    )
    b2 = spark.createDataFrame(
        [
            ("u1", "d.com", "UNFETCHED", 200, 2.0, 400),
            ("u2", "d.com", "FETCHED", 300, 0.0, 900),
        ],
        schema=OBS_SCHEMA,
    )
    src = str(tmp_path / "obs")
    os.makedirs(src)
    b1.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(OBS_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        url_db_stateful(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("urldb_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        b2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.table("urldb_test").collect()
    # last emission per url
    latest = {}
    for r in rows:
        latest[r["url"]] = r
    assert latest["u1"]["score"] == 3.0  # 1.0 + 2.0 across batches
    assert latest["u1"]["status_time"] == 200
    assert latest["u1"]["next_fetch_time"] == 400
    assert latest["u2"]["status"] == "FETCHED"


def test_merge_one_matches_batch_lattice():
    from flink_crawler_spark.streaming.url_db import merge_one

    # UNFETCHED + UNFETCHED: sum/max/min
    assert merge_one(("UNFETCHED", 100, 1.0, 500), "UNFETCHED", 200, 2.5, 400) == (
        "UNFETCHED", 200, 3.5, 400,
    )
    # non-UNFETCHED beats UNFETCHED in either order
    assert merge_one(("UNFETCHED", 900, 9.0, 100), "FETCHED", 100, 1.0, 999)[0] == "FETCHED"
    assert merge_one(("FETCHED", 100, 1.0, 999), "UNFETCHED", 900, 9.0, 100)[0] == "FETCHED"
    # both non-UNFETCHED: newer status_time wins
    assert merge_one(("FETCHED", 100, 1.0, 0), "HTTP_NOT_FOUND", 300, 2.0, 0)[0] == "HTTP_NOT_FOUND"


# ----------------------------------------------------------------------
# seed stream (staged seed files, built-in file source)
# ----------------------------------------------------------------------


@pytest.fixture()
def seed_file(tmp_path):
    p = tmp_path / "seeds.txt"
    p.write_text("# comment\n\nhttp://a.com/ 2.5\nhttp://b.com/\n  \nhttp://c.com/ 0.5\n")
    return str(p)


def _drain(spark, seed_path, ckpt, per_batch=0):
    """Run the seed stream to the end of its staged files; the rows of
    each micro-batch, in batch order."""
    from flink_crawler_spark.sources.seeds import seed_stream

    batches = {}
    q = (
        seed_stream(spark, seed_path, ckpt, per_batch)
        .writeStream.foreachBatch(lambda df, i: batches.update({i: df.collect()}))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert q.exception() is None
    return [[(r["url"], r["score"]) for r in batches[i]] for i in sorted(batches)]


def test_seed_stream_streams_all_seeds(spark, seed_file, tmp_path):
    (rows,) = _drain(spark, seed_file, str(tmp_path / "ckpt2"))
    assert dict(rows) == {"http://a.com/": 2.5, "http://b.com/": 1.0, "http://c.com/": 0.5}


def test_seed_stream_requires_seed_file(spark, tmp_path):
    from flink_crawler_spark.sources.seeds import seed_stream

    with pytest.raises(FileNotFoundError, match="missing.txt"):
        seed_stream(spark, str(tmp_path / "missing.txt"), str(tmp_path / "ckpt"), 0)


def test_seed_file_readers_agree(spark, tmp_path):
    """The CLI's batch reader and the streaming source share one parse:
    scores, tabs, indented comments and whitespace-only lines."""
    from flink_crawler_spark.sources.seeds import seeds_from_text

    p = tmp_path / "seeds.txt"
    p.write_text(
        "# head\n  # indented comment\n\t#tab comment\n \t \n\n"
        "http://a.com/ 2.5\n\thttp://b.com/\t0.25\t\n  http://c.com/x  \n"
        "http://d.com/\t\n"
    )
    want = [
        ("http://a.com/", 2.5), ("http://b.com/", 0.25),
        ("http://c.com/x", 1.0), ("http://d.com/", 1.0),
    ]
    batch = sorted((r["url"], r["score"]) for r in seeds_from_text(spark, str(p)).collect())
    streamed = _drain(spark, str(p), str(tmp_path / "ckpt"))
    assert batch == want
    assert [sorted(b) for b in streamed] == [want]


def test_seed_score_must_be_a_number(spark, tmp_path):
    from flink_crawler_spark.sources.seeds import seeds_from_text

    p = tmp_path / "seeds.txt"
    p.write_text("http://a.com/ high\n")
    with pytest.raises(Exception, match="seed score is not a number"):
        seeds_from_text(spark, str(p)).collect()


def test_seed_stream_restart_delivers_only_new_lines(spark, tmp_path):
    """A restart on the same checkpoint after the seed file grew delivers
    exactly the new lines, one per micro-batch, and leaves every staged
    file as it was."""
    p = tmp_path / "seeds.txt"
    p.write_text("http://a.com/\nhttp://b.com/ 2.0\n")
    ckpt = str(tmp_path / "ckpt")
    assert _drain(spark, str(p), ckpt, 1) == [[("http://a.com/", 1.0)], [("http://b.com/", 2.0)]]
    seeds_dir = os.path.join(ckpt, "seeds")
    before = {n: os.stat(os.path.join(seeds_dir, n)) for n in os.listdir(seeds_dir)}

    p.write_text("http://a.com/\nhttp://b.com/ 2.0\n# grown\nhttp://c.com/\nhttp://d.com/ 3\n")
    got = _drain(spark, str(p), ckpt, 1)
    assert got == [[("http://c.com/", 1.0)], [("http://d.com/", 3.0)]]
    after = {n: os.stat(os.path.join(seeds_dir, n)) for n in os.listdir(seeds_dir)}
    assert len(after) == 4
    for n, st in before.items():
        assert (after[n].st_ino, after[n].st_mtime_ns, after[n].st_size) == (
            st.st_ino, st.st_mtime_ns, st.st_size
        )
    assert _drain(spark, str(p), ckpt, 1) == []  # nothing new: nothing delivered


def test_old_seed_source_checkpoint_is_a_clear_error(spark, tmp_path):
    """A checkpoint the Python seed DataSource wrote has offsets but no
    staged seeds; resuming it fails at once and names the fix."""
    from flink_crawler_spark.sources.seeds import seed_stream

    p = tmp_path / "seeds.txt"
    p.write_text("http://a.com/\n")
    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "offsets" / "0").write_text('v1\n{}\n{"index":1}\n')
    with pytest.raises(ValueError, match="delete the checkpoint"):
        seed_stream(spark, str(p), str(ckpt), 0)
    assert not (ckpt / "seeds").exists()


# ----------------------------------------------------------------------
# WARC records + sink
# ----------------------------------------------------------------------


def _fetch_results_df(spark):
    rows = [
        ("http://a.com/", 1_700_000_000_000, "FETCHED", b"<html>A</html>", "text/html"),
        ("http://b.com/", 1_700_000_000_000, "HTTP_NOT_FOUND", None, None),
    ]
    return spark.createDataFrame(
        rows, "url string, status_time long, status string, content binary, content_type string"
    )


def test_warc_record_format(spark):
    from flink_crawler_spark.operators.warc import build_warc_records

    recs = build_warc_records(_fetch_results_df(spark)).collect()
    assert len(recs) == 1  # non-FETCHED dropped
    blob = bytes(recs[0]["warc"])
    text = blob.decode("utf-8")
    assert text.startswith("WARC/1.0\r\n")
    assert "WARC-Type: resource\r\n" in text
    assert "WARC-Target-URI: http://a.com/\r\n" in text
    assert "WARC-Date: 2023-11-14T22:13:20Z\r\n" in text
    assert "Content-Length: 14\r\n" in text
    assert text.endswith("<html>A</html>\r\n\r\n")


def test_warc_writer_roundtrip(spark, tmp_path):
    from flink_crawler_spark.operators.warc import build_warc_records, write_warc

    out = str(tmp_path / "warc")
    write_warc(build_warc_records(_fetch_results_df(spark)), out, agent="test-agent")
    files = [f for f in os.listdir(out) if f.endswith(".warc.gz")]
    assert files
    data = b"".join(gzip.open(os.path.join(out, f), "rb").read() for f in files)
    text = data.decode("utf-8")
    assert "WARC-Type: warcinfo" in text
    assert "http-header-user-agent: test-agent" in text
    assert "WARC-Target-URI: http://a.com/" in text


# ----------------------------------------------------------------------
# CLI (subprocess — the real user surface)
# ----------------------------------------------------------------------


def test_cli_end_to_end(spark, tmp_path):
    from flink_crawler_spark.sources.fixtures import render_pages, web_graph_from_adjacency

    adjacency = {
        "http://cli.com/": ["http://cli.com/a"],
        "http://cli.com/a": [],
    }
    pages_path = str(tmp_path / "pages")
    render_pages(web_graph_from_adjacency(spark, adjacency)).write.parquet(pages_path)
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("http://cli.com/\n")
    state_out = str(tmp_path / "state")
    text_out = str(tmp_path / "text")

    proc = subprocess.run(
        [
            sys.executable, "-m", "flink_crawler_spark.cli",
            "--seedurls", str(seeds), "--pages", pages_path,
            "--stateout", state_out, "--textcontentfile", text_out,
            "--maxticks", "4", "--parallelism", "4",
        ],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "crawl finished" in proc.stdout
    st = {r["url"]: r["status"] for r in spark.read.parquet(state_out).collect()}
    assert st == {"http://cli.com/": "FETCHED", "http://cli.com/a": "FETCHED"}
    text = spark.read.text(text_out).collect()
    assert any("http://cli.com/a\t" in r["value"] for r in text)


def test_partitioned_read_actually_prunes(spark, sf_dir):
    """partitioned_parquet_pruning must not just return the right answer
    — the physical scan must read only the 2 matching partition dirs."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    od = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    out = os.path.join(tempfile.mkdtemp(prefix="fcs_prune_t_"), "orders_by_prio")
    od.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    back = spark.read.parquet(out).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderpriority" in plan.split("PartitionFilters")[1][:200]
    # 2 of the 5 priority partitions survive pruning
    n_parts = back.select("o_orderpriority").distinct().count()
    assert n_parts == 2


def test_tsv_content_sink_roundtrip(spark, sf_dir):
    """Custom DataSource writer (sources/tsv_sink.py): two-phase commit
    — part files + _SUCCESS appear only after a successful job, and the
    url\\ttext payload round-trips (reference text sink, CTB:455-463)."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_crawler_spark.sources.tsv_sink import TsvContentSink

    spark.dataSource.register(TsvContentSink)
    df = spark.createDataFrame(
        [("http://a.com/1", "hello\tworld"), ("http://b.com/2", "line\nbreak"), ("http://c.com/3", None)],
        "url string, text string",
    ).repartition(2)
    out = os.path.join(tempfile.mkdtemp(prefix="fcs_tsv_sink_"), "content")
    df.write.format("tsv_content").option("path", out).mode("append").save()

    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not glob.glob(os.path.join(out, ".tmp-*"))  # no leftover temps
    back = spark.read.option("sep", "\t").csv(out).toDF("url", "text")
    rows = {r["url"]: r["text"] for r in back.collect()}
    assert rows["http://a.com/1"] == "hello world"  # tab squashed
    assert rows["http://b.com/2"] == "line break"   # newline squashed
    assert "http://c.com/3" in rows
    with open(os.path.join(out, "_SUCCESS")) as fh:
        assert fh.read() == "3"


def test_tsv_content_stream_sink(spark, sf_dir):
    """Streaming half of the custom sink: micro-batches land as
    batch-id-stamped part files with per-batch commit markers."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_crawler_spark.sources.tsv_sink import TsvContentSink

    spark.dataSource.register(TsvContentSink)
    src = os.path.join(sf_dir, "documents.parquet")
    stream_dir = tempfile.mkdtemp(prefix="fcs_tsvs_src_")
    os.symlink(src, os.path.join(stream_dir, "d.parquet"))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .select(F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text")
    )
    out = os.path.join(tempfile.mkdtemp(prefix="fcs_tsvs_out_"), "content")
    ckpt = tempfile.mkdtemp(prefix="fcs_tsvs_ck_")
    q = (
        stream.writeStream.format("tsv_content")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    parts = glob.glob(os.path.join(out, "part-b*.tsv"))
    assert parts and glob.glob(os.path.join(out, "_BATCH_*"))
    assert not glob.glob(os.path.join(out, ".tmp-*"))
    n = sum(1 for p in parts for _ in open(p))
    assert n == spark.read.parquet(src).count()


def test_tsv_sink_sweeps_orphan_tmp(spark):
    """A stray .tmp-* from a failed/speculative attempt whose commit
    message never reached the driver is removed by commit() — the sink
    leaves no invisible garbage behind (sources/tsv_sink.py commit)."""
    import glob
    import os
    import tempfile

    from flink_crawler_spark.sources.tsv_sink import TsvContentSink

    spark.dataSource.register(TsvContentSink)
    out = os.path.join(tempfile.mkdtemp(prefix="fcs_tsv_orphan_"), "content")
    os.makedirs(out)
    orphan = os.path.join(out, ".tmp-deadbeefdeadbeef")
    with open(orphan, "w") as fh:
        fh.write("stale attempt\n")
    df = spark.createDataFrame([("http://a.com/1", "x")], "url string, text string")
    df.write.format("tsv_content").option("path", out).mode("append").save()
    assert not os.path.exists(orphan)
    assert not glob.glob(os.path.join(out, ".tmp-*"))
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = spark.read.option("sep", "\t").csv(out).toDF("url", "text").collect()
    assert len(back) == 1 and back[0]["url"] == "http://a.com/1"


def test_warc_reader_roundtrip_and_edge_cases(spark, tmp_path):
    """WARC DataSource reader (sources/warc_datasource.py): multi-record
    gzip segments round-trip byte-exactly; warcinfo headers are visible
    and filterable by type; a truncated tail is skipped, not an error."""
    import gzip
    import os

    from pyspark.sql import functions as F

    from flink_crawler_spark.operators.warc import build_warc_records, write_warc
    from flink_crawler_spark.sources.warc_datasource import WarcDataSource

    rows = spark.createDataFrame(
        [
            ("http://a.com/1", "FETCHED", 0, b"hello warc", "text/plain"),
            ("http://a.com/2", "FETCHED", 0, b"\x00\x01binary\xff", "application/octet-stream"),
            ("http://a.com/3", "HTTP_NOT_FOUND", 0, None, None),  # dropped by builder
        ],
        "url string, status string, status_time long, content binary, content_type string",
    )
    out = str(tmp_path / "segments")
    write_warc(build_warc_records(rows).repartition(2), out, timestamp_ms=0)

    spark.dataSource.register(WarcDataSource)
    back = spark.read.format("warc").option("path", out).load()
    by_type = {r["warc_type"]: r for r in back.collect()}
    assert "warcinfo" in by_type  # every segment leads with warcinfo
    res = {
        r["target_uri"]: bytes(r["content"])
        for r in back.filter(F.col("warc_type") == "resource").collect()
    }
    assert res == {"http://a.com/1": b"hello warc", "http://a.com/2": b"\x00\x01binary\xff"}

    # type pushdown option
    only = spark.read.format("warc").option("path", out).option("warc_types", "resource").load()
    assert only.select("warc_type").distinct().collect()[0][0] == "resource"

    # truncated tail: chop the last 6 bytes of one segment -> reader
    # yields the intact prefix records and stops cleanly
    seg = sorted(p for p in os.listdir(out) if p.endswith(".warc.gz"))[0]
    raw = gzip.open(os.path.join(out, seg), "rb").read()
    trunc = str(tmp_path / "trunc")
    os.makedirs(trunc)
    with gzip.open(os.path.join(trunc, "t.warc.gz"), "wb") as fh:
        fh.write(raw[:-6])
    t = spark.read.format("warc").option("path", trunc).load()
    assert t.count() >= 1  # warcinfo (and any intact records) survive


def test_seed_source_uri_scheme_injection(spark, tmp_path):
    """SeedUrlSource's S3 mode is a PATH, not code (SeedUrlSource.java
    184-248): seeds_from_text hands the URI to Hadoop FS, so any
    configured scheme works unchanged. Proven here with an explicit
    file:// URI (the same resolution path s3a:// takes — only the FS
    implementation differs); # comments and blanks still filter."""
    from flink_crawler_spark.sources.seeds import seeds_from_text

    p = tmp_path / "seeds.txt"
    p.write_text("# comment\nhttp://a.com/\n\n  http://b.com/x  \n#tail\n")
    uri = "file://" + str(p)
    got = {r["url"] for r in seeds_from_text(spark, uri).collect()}
    assert got == {"http://a.com/", "http://b.com/x"}
