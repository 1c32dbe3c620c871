"""WARC walker (ISO 28500 / Common Crawl layout) — beyond-reference
container format. Pure Python, no Spark session needed.

Covers: record selection (response/resource/conversion walked,
warcinfo/request/metadata skipped), HTTP header stripping, chunked
transfer-encoding decode, per-record-gzip (.warc.gz) multi-member
decode, nested-archive recursion through a response body, and the
stop-at-first-bad-entry truncation contract.
"""

from __future__ import annotations

import gzip
import io

from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.sources.walker import (
    _http_body,
    walk_stream,
)
from tests.conftest import tar_archive


def _walk_bytes(source: str, data: bytes, options: ConvertOptions | None = None):
    return list(walk_stream(source, io.BytesIO(data), len(data), options))


def warc_record(
    rec_type: str,
    payload: bytes,
    uri: str | None = None,
    extra: dict[str, str] | None = None,
) -> bytes:
    headers = {
        "WARC-Type": rec_type,
        "WARC-Record-ID": f"<urn:uuid:{rec_type}-{len(payload)}>",
        "WARC-Date": "2026-01-01T00:00:00Z",
        "Content-Length": str(len(payload)),
    }
    if uri is not None:
        headers["WARC-Target-URI"] = uri
    headers.update(extra or {})
    head = "".join(f"{k}: {v}\r\n" for k, v in headers.items())
    return b"WARC/1.0\r\n" + head.encode() + b"\r\n" + payload + b"\r\n\r\n"


def http_response(body: bytes, chunked: bool = False) -> bytes:
    if chunked:
        mid = len(body) // 2
        chunks = b""
        for part in (body[:mid], body[mid:]):
            if part:
                chunks += f"{len(part):x}\r\n".encode() + part + b"\r\n"
        chunks += b"0\r\n\r\n"
        return (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n" + chunks
        )
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )


def test_warc_selects_and_strips_http():
    body_a = b"<html>page a</html>"
    body_b = b"plain resource text"
    data = (
        warc_record("warcinfo", b"software: test\r\n")
        + warc_record(
            "request",
            b"GET / HTTP/1.1\r\nHost: a.example\r\n\r\n",
            uri="http://a.example/",
        )
        + warc_record(
            "response", http_response(body_a), uri="http://a.example/"
        )
        + warc_record(
            "metadata", b"fetchTimeMs: 10\r\n", uri="http://a.example/"
        )
        + warc_record("resource", body_b, uri="http://b.example/raw.txt")
    )
    rows = _walk_bytes("crawl.warc", data)
    assert [(r.path, r.content) for r in rows] == [
        ("http://a.example/", body_a),
        ("http://b.example/raw.txt", body_b),
    ]


def test_warc_chunked_transfer_encoding_decoded():
    body = b"0123456789abcdef" * 10
    data = warc_record(
        "response", http_response(body, chunked=True), uri="http://c.example/"
    )
    rows = _walk_bytes("crawl.warc", data)
    assert [(r.path, r.content) for r in rows] == [("http://c.example/", body)]


def test_warc_gz_per_record_members():
    # Common Crawl layout: each record its own gzip member, concatenated
    body = b"<html>compressed</html>"
    rec1 = gzip.compress(warc_record("warcinfo", b"x: y\r\n"))
    rec2 = gzip.compress(
        warc_record("response", http_response(body), uri="http://d.example/")
    )
    rows = _walk_bytes("crawl.warc.gz", rec1 + rec2)
    assert [(r.path, r.content) for r in rows] == [("http://d.example/", body)]


def test_warc_response_body_recurses_into_archive():
    inner = tar_archive({"lib/readme.txt": b"tarred contents"})
    data = warc_record(
        "response",
        http_response(inner),
        uri="http://e.example/pkg.tar",
    )
    rows = _walk_bytes("crawl.warc", data)
    assert [(r.path, r.content) for r in rows] == [
        ("http://e.example/pkg.tar/lib/readme.txt", b"tarred contents")
    ]
    assert rows[0].source == "crawl.warc"


def test_warc_truncated_record_stops_silently():
    body = b"<html>whole</html>"
    good = warc_record("response", http_response(body), uri="http://f.example/")
    bad = warc_record(
        "response", http_response(b"never finishes"), uri="http://g.example/"
    )[:-20]
    rows = _walk_bytes("crawl.warc", good + bad)
    assert [(r.path, r.content) for r in rows] == [("http://f.example/", body)]


def test_warc_record_without_uri_named_by_record_id():
    data = warc_record("conversion", b"extracted text")
    rows = _walk_bytes("crawl.warc", data)
    assert len(rows) == 1
    assert rows[0].path.startswith("urn:uuid:conversion-")


def test_http_body_edge_cases():
    # no header separator at all → raw message back
    assert _http_body(b"HTTP/1.1 200 OK") == b"HTTP/1.1 200 OK"
    # LF-only separator tolerated
    assert _http_body(b"HTTP/1.0 200 OK\nX: y\n\nbody") == b"body"
    # malformed chunk size → raw remainder preserved
    raw = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZZ\r\njunk"
    assert _http_body(raw) == b"ZZZ\r\njunk"


def test_warc_gz_through_spark_convert(spark, tmp_path):
    """Full pipeline: .warc.gz input → entries DataFrame → parquet."""
    import pyarrow.parquet as pq

    from archive_to_parquet_spark.plans.convert import convert

    body = b"<html>spark-side page</html>"
    data = gzip.compress(warc_record("warcinfo", b"x: y\r\n")) + gzip.compress(
        warc_record("response", http_response(body), uri="http://s.example/page")
    )
    src = tmp_path / "crawl.warc.gz"
    src.write_bytes(data)
    out = str(tmp_path / "out.parquet")
    counters = convert(spark, [str(src)], out, ConvertOptions())
    table = pq.read_table(out)
    assert counters.output_rows == table.num_rows == 1
    row = table.to_pylist()[0]
    assert row["path"] == "http://s.example/page"
    assert row["content"] == body
    assert row["size"] == len(body)


def test_crawl_to_documents_end_to_end(spark, tmp_path):
    """WARC crawl → documents table: HTML pages extract to visible
    text, plain-text resources pass through, binaries drop, schema
    matches the documents testdata table plus url/title."""
    from archive_to_parquet_spark.plans.crawl import crawl_to_documents

    html = (
        b"<html><head><title>The Page</title><script>x=1</script></head>"
        b"<body><h1>Hello</h1><p>the quick brown fox and the lazy dog"
        b" walk into the bar and order a drink</p></body></html>"
    )
    plain = b"just plain text with the usual words and the rest of it"
    binary = b"\xff\xfe\x00\x01 not utf8 \xff"
    data = (
        gzip.compress(
            warc_record("response", http_response(html), uri="http://h.example/")
        )
        + gzip.compress(
            warc_record("conversion", plain, uri="http://p.example/t.txt")
        )
        + gzip.compress(
            warc_record("resource", binary, uri="http://b.example/blob")
        )
    )
    src = tmp_path / "crawl.warc.gz"
    src.write_bytes(data)
    docs = crawl_to_documents(spark, [str(src)])
    rows = {r["url"]: r for r in docs.collect()}
    assert set(rows) == {"http://h.example/", "http://p.example/t.txt"}
    page = rows["http://h.example/"]
    assert page["title"] == "The Page"
    assert page["text"].splitlines() == [
        "Hello",
        "the quick brown fox and the lazy dog walk into the bar and"
        " order a drink",
    ]
    assert page["lang"] == "en"
    assert page["n_chars"] == len(page["text"])
    assert rows["http://p.example/t.txt"]["text"] == plain.decode()
    # doc_id is derived from the content hash: deterministic across runs
    again = {r["url"]: r["doc_id"] for r in crawl_to_documents(spark, [str(src)]).collect()}
    assert again == {u: r["doc_id"] for u, r in rows.items()}
    # single-stage plan: no exchange anywhere between walk and documents
    from archive_to_parquet_spark.plans.bucketing import plan_has_exchange

    assert not plan_has_exchange(docs)


def test_cli_documents_mode(tmp_path):
    """CLI --documents: WARC crawl → curated documents parquet."""
    import pyarrow.parquet as pq

    from archive_to_parquet_spark.cli import main

    html = (
        b"<html><head><title>T</title></head><body><p>the cli drove the"
        b" crawl and it was good</p></body></html>"
    )
    src = tmp_path / "crawl.warc.gz"
    src.write_bytes(
        gzip.compress(
            warc_record("response", http_response(html), uri="http://cli.example/")
        )
    )
    out = str(tmp_path / "docs.parquet")
    rc = main(["--documents", "--no-progress", out, str(src)])
    assert rc == 0
    table = pq.read_table(out)
    assert table.num_rows == 1
    row = table.to_pylist()[0]
    assert row["url"] == "http://cli.example/"
    assert row["title"] == "T"
    assert row["text"] == "the cli drove the crawl and it was good"
    assert row["lang"] == "en"


def test_cli_documents_jsonl_output(tmp_path):
    """CLI --documents --output-format jsonl: gzipped JSONL shards."""
    import glob
    import json

    from archive_to_parquet_spark.cli import main

    html = (
        b"<html><head><title>J</title></head><body><p>the jsonl output"
        b" works for the crawl</p></body></html>"
    )
    src = tmp_path / "crawl.warc.gz"
    src.write_bytes(
        gzip.compress(
            warc_record("response", http_response(html), uri="http://j.example/")
        )
    )
    out = str(tmp_path / "docs_jsonl")
    rc = main(
        ["--documents", "--output-format", "jsonl", "--no-progress", out, str(src)]
    )
    assert rc == 0
    shards = glob.glob(f"{out}/part-*.txt.gz")
    assert shards
    lines = []
    for shard in shards:
        with gzip.open(shard, "rt") as fh:
            lines += [json.loads(line) for line in fh if line.strip()]
    assert len(lines) == 1
    assert lines[0]["url"] == "http://j.example/"
    assert lines[0]["title"] == "J"
    assert lines[0]["text"] == "the jsonl output works for the crawl"


def test_cli_documents_incremental_appends_only_new(tmp_path):
    """--documents --incremental: a re-crawl containing an already-
    ingested page plus a new one appends ONLY the new document."""
    import pyarrow.parquet as pq

    from archive_to_parquet_spark.cli import main

    def crawl_file(name, pages):
        body = b"".join(
            warc_record("response", http_response(html), uri=uri)
            for uri, html in pages
        )
        path = tmp_path / name
        path.write_bytes(gzip.compress(body))
        return str(path)

    page_a = (
        "http://a.example/",
        b"<html><body><p>the first page of the crawl corpus</p></body></html>",
    )
    page_b = (
        "http://b.example/",
        b"<html><body><p>the second page arrives in the recrawl</p></body></html>",
    )
    out = str(tmp_path / "docs.parquet")
    rc = main(
        ["--documents", "--incremental", "--no-progress", out,
         crawl_file("c1.warc.gz", [page_a])]
    )
    assert rc == 0
    assert pq.read_table(out).num_rows == 1
    # recrawl ships page_a AGAIN plus the new page_b
    rc = main(
        ["--documents", "--incremental", "--no-progress", out,
         crawl_file("c2.warc.gz", [page_a, page_b])]
    )
    assert rc == 0
    table = pq.read_table(out)
    assert table.num_rows == 2
    assert sorted(r["url"] for r in table.to_pylist()) == [
        "http://a.example/",
        "http://b.example/",
    ]


def test_cli_documents_honours_refine_flags(tmp_path):
    """--documents runs the entries through the same refine stage as
    the raw conversion: --max-size drops the large page."""
    import pyarrow.parquet as pq

    from archive_to_parquet_spark.cli import main

    small = b"<html><body><p>a short page that stays</p></body></html>"
    large = b"<html><body><p>" + b"a long page that goes " * 100 + b"</p></body></html>"
    src = tmp_path / "crawl.warc.gz"
    src.write_bytes(
        gzip.compress(
            warc_record("response", http_response(small), uri="http://small.example/")
            + warc_record("response", http_response(large), uri="http://large.example/")
        )
    )
    out = str(tmp_path / "docs.parquet")
    rc = main(["--documents", "--max-size", "1000", "--no-progress", out, str(src)])
    assert rc == 0
    assert [r["url"] for r in pq.read_table(out).to_pylist()] == ["http://small.example/"]


def test_cli_documents_zero_rows_leaves_nothing(tmp_path):
    """A --documents run that extracts no document fails like the raw
    conversion: exit 1 and no dataset left behind."""
    import os

    from archive_to_parquet_spark.cli import main

    src = tmp_path / "binary.tar"
    src.write_bytes(tar_archive({"blob.bin": b"\xff\xfe\x00 not text"}))
    out = str(tmp_path / "docs.parquet")
    assert main(["--documents", "--no-progress", out, str(src)]) == 1
    assert not os.path.exists(out)


def test_cli_jsonl_without_documents_is_rejected(tmp_path, capsys):
    """--output-format jsonl only applies to --documents; the raw
    conversion rejects it instead of silently writing parquet."""
    import os

    from archive_to_parquet_spark.cli import main

    src = tmp_path / "a.tar"
    src.write_bytes(tar_archive({"a.txt": b"some text"}))
    out = str(tmp_path / "out")
    assert main(["--output-format", "jsonl", "--no-progress", out, str(src)]) == 2
    assert "--output-format jsonl requires --documents" in capsys.readouterr().err
    assert not os.path.exists(out)
