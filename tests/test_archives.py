"""Distributed archive shredding: zips/tars → member rows, exact bytes,
corrupt-archive policy."""

from __future__ import annotations

import io
import os
import tarfile
import zipfile

import pytest

from amsterdam_map_data_wrangling_spark.sources.archives import (
    read_tar_members,
    read_zip_members,
)


@pytest.fixture()
def zip_dir(tmp_path):
    d = tmp_path / "zips"
    d.mkdir()
    expected = {}
    for a in range(3):
        p = d / f"bundle_{a}.zip"
        with zipfile.ZipFile(p, "w") as zf:
            for m in range(4):
                name = f"docs/part_{m}.txt"
                data = f"archive {a} member {m} ".encode() * (m + 1)
                zf.writestr(name, data)
                expected[(str(p), name)] = data
        # a directory entry must be skipped
        with zipfile.ZipFile(p, "a") as zf:
            zf.writestr("docs/", b"")
    return str(d), expected


def test_zip_members_exact_bytes(spark, zip_dir):
    d, expected = zip_dir
    rows = read_zip_members(spark, d).collect()
    got = {
        (r.archive.replace("file:", ""), r.member): bytes(r.payload)
        for r in rows
    }
    assert got == expected
    assert all(r.size == len(bytes(r.payload)) for r in rows)


def test_zip_corrupt_policy(spark, zip_dir, tmp_path):
    d, expected = zip_dir
    bad = os.path.join(d, "broken.zip")
    with open(bad, "wb") as f:
        f.write(b"PK\x03\x04 this is not really a zip")
    with pytest.raises(Exception):
        read_zip_members(spark, d).collect()
    rows = read_zip_members(spark, d, skip_bad=True).collect()
    assert len(rows) == len(expected)  # bad archive contributed nothing


def test_tar_members_exact_bytes(spark, tmp_path):
    d = tmp_path / "tars"
    d.mkdir()
    expected = {}
    p = d / "bundle.tar.gz"
    with tarfile.open(p, "w:gz") as tf:
        for m in range(3):
            name = f"texts/doc_{m}.txt"
            data = f"tar member {m} content".encode() * (m + 2)
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
            expected[name] = data
    rows = read_tar_members(spark, str(d)).collect()
    got = {r.member: bytes(r.payload) for r in rows}
    assert got == expected


def _warc_record(rid, rtype, uri, payload, content_type=None):
    hdr = [
        "WARC/1.0",
        f"WARC-Type: {rtype}",
        f"WARC-Record-ID: <urn:uuid:{rid}>",
        f"WARC-Target-URI: {uri}",
        f"Content-Length: {len(payload)}",
    ]
    if content_type:
        hdr.append(f"Content-Type: {content_type}")
    return "\r\n".join(hdr).encode() + b"\r\n\r\n" + payload + b"\r\n\r\n"


def test_warc_records_plain_and_gzip(spark, tmp_path):
    import gzip

    from amsterdam_map_data_wrangling_spark.sources.archives import (
        read_warc_records,
    )

    html = b"<html><body>hello crawl</body></html>"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    )
    records = (
        _warc_record("aaa", "warcinfo", "", b"software: test")
        + _warc_record(
            "bbb", "response", "http://example.com/", http,
            content_type="application/http; msgtype=response",
        )
        + _warc_record("ccc", "request", "http://example.com/", b"GET /")
    )
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "plain.warc").write_bytes(records)
    # Common-Crawl style: one gzip member per record, concatenated
    gz = b"".join(
        gzip.compress(r)
        for r in [
            _warc_record("ddd", "response", "http://example.org/x", http,
                         content_type="application/http; msgtype=response"),
            _warc_record("eee", "metadata", "http://example.org/x", b"{}"),
        ]
    )
    (d / "cc.warc.gz").write_bytes(gz)

    rows = read_warc_records(spark, str(d)).collect()
    by_id = {r.record_id: r for r in rows}
    assert len(rows) == 5
    assert by_id["<urn:uuid:bbb>"].warc_type == "response"
    assert by_id["<urn:uuid:bbb>"].target_uri == "http://example.com/"
    assert bytes(by_id["<urn:uuid:bbb>"].payload) == http
    assert bytes(by_id["<urn:uuid:bbb>"].http_body) == html
    assert by_id["<urn:uuid:ccc>"].http_body is None
    assert bytes(by_id["<urn:uuid:ddd>"].http_body) == html
    assert by_id["<urn:uuid:eee>"].warc_type == "metadata"


def test_warc_corrupt_policy(spark, tmp_path):
    from amsterdam_map_data_wrangling_spark.sources.archives import (
        read_warc_records,
    )

    d = tmp_path / "warcs2"
    d.mkdir()
    (d / "ok.warc").write_bytes(
        _warc_record("zzz", "response", "http://a/", b"fine")
    )
    (d / "bad.warc").write_bytes(b"WARC/1.0\r\nContent-Length: 999\r\n\r\nshort")
    with pytest.raises(Exception):
        read_warc_records(spark, str(d)).collect()
    rows = read_warc_records(spark, str(d), skip_bad=True).collect()
    assert [r.record_id for r in rows] == ["<urn:uuid:zzz>"]


def test_warc_to_clean_text_end_to_end(spark, tmp_path):
    """The crawl-to-corpus loop: WARC → http_body → html_to_text →
    tokens, all engine-side."""
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.functions.text import (
        html_to_text,
        tokens,
    )
    from amsterdam_map_data_wrangling_spark.sources.archives import (
        read_warc_records,
    )

    html = (
        b"<html><head><style>p{color:red}</style>"
        b"<script>alert('x &amp; y')</script></head>"
        b"<body><h1>Title</h1><p>Hello&nbsp;crawl &amp; friends"
        b"<br>line two</p><!-- hidden --><div>tail</div></body></html>"
    )
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    d = tmp_path / "w"
    d.mkdir()
    (d / "one.warc").write_bytes(
        _warc_record(
            "r1", "response", "http://example.com/a", http,
            content_type="application/http; msgtype=response",
        )
    )
    cleaned = (
        read_warc_records(spark, str(d))
        .filter(F.col("warc_type") == "response")
        .select(
            "target_uri",
            html_to_text(
                F.col("http_body").cast("string")
            ).alias("text"),
        )
        .withColumn("toks", tokens(F.col("text")))
        .collect()
    )
    assert len(cleaned) == 1
    assert cleaned[0].text == "Title Hello crawl & friends line two tail"
    assert cleaned[0].toks == [
        "Title", "Hello", "crawl", "&", "friends", "line", "two", "tail",
    ]


def test_url_curation_functions(spark):
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.functions.text import (
        url_host,
        url_normalize,
        url_registered_domain,
    )

    rows = [
        ("HTTPS://WWW.Example.COM:443/Path/Page?q=1#frag",),
        ("http://sub.a.example.org:80/",),
        ("http://example.com",),
        ("not a url",),
        # r7 ADVICE regression pins: a non-default port must survive
        # url_normalize verbatim (:8080 once matched the :80 prefix),
        # and a default port on the WRONG scheme is not redundant.
        ("http://example.com:8080/x",),
        ("https://example.com:4430/x",),
        ("http://example.com:443/x",),
    ]
    df = spark.createDataFrame(rows, ["u"])
    got = df.select(
        url_host(F.col("u")).alias("h"),
        url_registered_domain(F.col("u")).alias("d"),
        url_normalize(F.col("u")).alias("n"),
    ).collect()
    assert [r.h for r in got] == [
        "www.example.com", "sub.a.example.org", "example.com", None,
        "example.com", "example.com", "example.com",
    ]
    assert [r.d for r in got] == [
        "example.com", "example.org", "example.com", None,
        "example.com", "example.com", "example.com",
    ]
    assert got[0].n == "https://www.example.com/Path/Page?q=1"
    assert got[1].n == "http://sub.a.example.org"
    assert got[2].n == "http://example.com"
    assert got[3].n == "not a url"
    assert got[4].n == "http://example.com:8080/x"
    assert got[5].n == "https://example.com:4430/x"
    assert got[6].n == "http://example.com:443/x"


def test_many_archive_ingest_parallelism_and_parity(spark, tmp_path):
    """100 TB crawl-ingest story, proven like the OSM one (r7 VERDICT
    missing #3): N archives read by ONE read_zip_members call must (a)
    scan with at least per-archive parallelism (the reader lists the
    archives and gives each its own input partition — binaryFile's own
    scan would pack 12 small zips into defaultParallelism partitions
    whenever there are fewer cores than archives) and (b) shred to
    exactly the same bytes as reading each archive alone. The
    giant-SINGLE-archive story lives in sources/warc_split.py
    (range-split reading, tests/test_warc_split.py)."""
    import zipfile

    d = tmp_path / "many_zips"
    d.mkdir()
    n_archives = 12
    expected = {}
    for a in range(n_archives):
        p = d / f"shard_{a:02d}.zip"
        with zipfile.ZipFile(p, "w") as zf:
            for m in range(3):
                name = f"doc_{m}.txt"
                data = f"shard {a} doc {m} ".encode() * (m + 2)
                zf.writestr(name, data)
                expected[(str(p), name)] = data

    df = read_zip_members(spark, str(d))
    assert df.rdd.getNumPartitions() >= n_archives, (
        "many-archive input must scan with at least per-archive parallelism"
    )
    rows = df.collect()
    got = {
        (r.archive.replace("file:", ""), r.member): bytes(r.payload)
        for r in rows
    }
    assert got == expected  # byte parity, every member exactly once

    # per-archive singleton reads agree with the one-call read
    for a in (0, 7):
        alone = read_zip_members(spark, str(d / f"shard_{a:02d}.zip")).collect()
        assert {
            (r.archive.replace("file:", ""), r.member): bytes(r.payload)
            for r in alone
        } == {
            k: v for k, v in expected.items() if k[0].endswith(f"shard_{a:02d}.zip")
        }


def test_many_warc_ingest_parallelism(spark, tmp_path):
    """The WARC twin: N .warc files, one read_warc_records call, >= N
    input partitions and every record exactly once."""
    from amsterdam_map_data_wrangling_spark.sources.archives import (
        read_warc_records,
    )

    d = tmp_path / "many_warcs"
    d.mkdir()
    n_archives = 10
    want = set()
    for a in range(n_archives):
        recs = b"".join(
            _warc_record(f"a{a:02d}r{i}", "metadata", f"http://s{a}/{i}",
                         f"payload {a}/{i}".encode())
            for i in range(5)
        )
        (d / f"crawl_{a:02d}.warc").write_bytes(recs)
        want |= {f"<urn:uuid:a{a:02d}r{i}>" for i in range(5)}

    df = read_warc_records(spark, str(d))
    assert df.rdd.getNumPartitions() >= n_archives
    rows = df.collect()
    assert len(rows) == len(want)
    assert {r.record_id for r in rows} == want


def test_documents_from_warc_guardrail(spark, tmp_path):
    """The crawl→corpus ingest step (r16): WARC response bodies become a
    documents-shaped relation with width bounded AT INGEST — oversized
    bodies arrive as byte-exact reassemblable parts, narrow ones
    untouched; non-response records never become documents."""
    from amsterdam_map_data_wrangling_spark.sources.archives import (
        documents_from_warc,
    )

    small = b"HTTP/1.1 200 OK\r\n\r\n" + b"tiny page body"
    big_text = " ".join(f"w{i}" for i in range(4_000)).encode()
    big = b"HTTP/1.1 200 OK\r\n\r\n" + big_text
    records = (
        _warc_record("aaa", "warcinfo", "", b"software: test")
        + _warc_record("s1", "response", "http://a/", small,
                       content_type="application/http; msgtype=response")
        + _warc_record("b1", "response", "http://b/", big,
                       content_type="application/http; msgtype=response")
        + _warc_record("req", "request", "http://a/", b"GET /")
    )
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg-00001.warc").write_bytes(records)

    docs = documents_from_warc(spark, str(d), max_doc_chars=5_000)
    rows = docs.collect()
    assert docs.columns == [
        "doc_id", "text", "lang", "source",
        "part_idx", "n_parts", "oversize", "n_chars",
    ]
    # only the two responses produce documents
    assert len({r.doc_id for r in rows}) == 2
    assert all(r.source == "seg-00001.warc" and r.lang == "und" for r in rows)
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    texts = {
        min(p.part_idx for p in parts): parts
        for parts in by_doc.values()
    }
    whole = {
        "".join(p.text for p in sorted(parts, key=lambda r: r.part_idx))
        for parts in by_doc.values()
    }
    assert whole == {"tiny page body", big_text.decode()}
    n_parts = sorted(len(p) for p in by_doc.values())
    assert n_parts[0] == 1 and n_parts[1] >= 2, "big body must split"
    assert all(r.n_chars == len(r.text) for r in rows)
    assert all(len(r.text) <= 5_000 for r in rows)
    assert not any(r.oversize for r in rows)

    # flag mode: rows stay whole, oversize marked
    flagged = documents_from_warc(
        spark, str(d), max_doc_chars=5_000, width_mode="flag"
    ).collect()
    assert {r.oversize for r in flagged} == {True, False}
    assert len(flagged) == 2

    # guardrail explicitly off
    off = documents_from_warc(spark, str(d), max_doc_chars=None)
    assert off.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    assert off.count() == 2


def test_documents_from_archives_zip_and_tar(spark, tmp_path):
    """The bundle→corpus twin: zip/tar members become width-bounded
    documents through the same guardrail tail as the WARC path."""
    import io
    import tarfile
    import zipfile

    from amsterdam_map_data_wrangling_spark.sources.archives import (
        documents_from_archives,
    )

    big = " ".join(f"t{i}" for i in range(4_000))
    d = tmp_path / "bundles"
    d.mkdir()
    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as zf:
        zf.writestr("docs/a.txt", "tiny zip doc")
        zf.writestr("docs/b.txt", big)
    (d / "bundle-1.zip").write_bytes(zbuf.getvalue())

    docs = documents_from_archives(spark, str(d), max_doc_chars=5_000)
    rows = docs.collect()
    assert len({r.doc_id for r in rows}) == 2
    assert all(r.source == "bundle-1.zip" for r in rows)
    whole = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.part_idx)):
        whole[r.doc_id] = whole.get(r.doc_id, "") + r.text
    assert set(whole.values()) == {"tiny zip doc", big}
    assert all(len(r.text) <= 5_000 for r in rows)
    assert any(r.n_parts > 1 for r in rows), "big member must split"

    t = tmp_path / "tars"
    t.mkdir()
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w:gz") as tf:
        data = b"tar member text"
        info = tarfile.TarInfo("m.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    (t / "corpus.tar.gz").write_bytes(tbuf.getvalue())
    tdocs = documents_from_archives(spark, str(t), fmt="tar").collect()
    assert len(tdocs) == 1 and tdocs[0].text == "tar member text"
    assert tdocs[0].source == "corpus.tar.gz"

    with pytest.raises(ValueError, match="fmt"):
        documents_from_archives(spark, str(d), fmt="rar")


def test_archive_strings_match_binaryfile_paths(spark, tmp_path):
    """The per-archive listing must name each archive exactly as a
    binaryFile scan does (``file:/dir/a b.zip``, percent-decoded), for
    odd names too: ``doc_id = xxhash64(archive, ...)`` and ``source``
    derive from that string."""
    d = tmp_path / "odd names"
    d.mkdir()
    names = ["a b.zip", "c#d.zip", "e%20f.zip", "x+y.zip", "ü.zip"]
    for n in names:
        with zipfile.ZipFile(d / n, "w") as zf:
            zf.writestr("m.txt", n.encode())
    scanned = {
        r.path
        for r in spark.read.format("binaryFile")
        .load(str(d))
        .select("path")
        .collect()
    }
    df = read_zip_members(spark, str(d))
    assert df.rdd.getNumPartitions() == len(names)
    rows = df.collect()
    assert {r.archive for r in rows} == scanned
    assert {bytes(r.payload).decode() for r in rows} == set(names)


def test_hadoop_path_string():
    from amsterdam_map_data_wrangling_spark.sources.fs import (
        hadoop_path_string,
    )

    assert hadoop_path_string("file:///t/a%20b%23c.zip") == "file:/t/a b#c.zip"
    assert hadoop_path_string("file:///t/e%2520f") == "file:/t/e%20f"
    assert hadoop_path_string("hdfs://nn:8020/x/y") == "hdfs://nn:8020/x/y"
    assert hadoop_path_string("s3a://bkt/k%20ey") == "s3a://bkt/k ey"
