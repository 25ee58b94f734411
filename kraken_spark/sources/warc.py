"""WARC (ISO 28500) ingestion: Common-Crawl's native container format.

The north-star input is an Iceberg table of Common-Crawl-style pages;
the upstream of such a table is WARC — one gzip member per record, each
record a header block (WARC/1.0 named fields) plus a payload that is
usually a full HTTP response. This module implements the from-scratch
reader/writer pair:

- `iter_warc_records(data)`: streams records out of a .warc or .warc.gz
  blob (member-per-record gzip, the Common-Crawl layout, handled with
  zlib raw streams so trailing members keep their boundaries; plain
  concatenated-record WARC works too).
- `warc_to_documents(data)`: response/resource records -> rows shaped
  exactly like the `documents` input table (url, warc_ts, html payload,
  lang from Content-Language when present) — HTTP headers stripped,
  chunked transfer-encoding decoded, gzip Content-Encoding inflated.
- `write_warc_gz(rows)`: the fixture writer (member-per-record, full
  HTTP response wrapping), so every parse path round-trips.
- `explode_warc(df)`: Spark face — DataFrame of (path, warc binary) ->
  one documents-shaped row per response record via mapInArrow.
- `write_wet_gz(rows)` / `write_wet_shards(df, dir)`: the WET sink —
  Common-Crawl's extracted-text artifact (WARC `conversion` records,
  text/plain payloads), one shard per partition, executor-written.

Scale shape: Common-Crawl splits its corpus into ~1 GB .warc.gz files
(tens of thousands per crawl); one task per file is the natural
partitioning, so the Spark reader parallelizes across files and streams
within a file — no intra-file split is needed at 100 TB because file
count >> core count.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

CRLF = b"\r\n"


def _gunzip_member_spans(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Yield (offset, compressed_length, decompressed) per gzip member of a
    multi-member stream. The (offset, length) span is the random-access
    handle the CDX index records: `data[offset:offset+length]` is a
    complete standalone .gz member."""
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError("warc: bad gzip member")
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            out = d.decompress(data[pos:]) + d.flush()
        except zlib.error:
            if pos == 0:
                raise ValueError("warc: corrupt gzip member") from None
            return  # truncated/corrupt tail member: keep earlier records
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:
            yield pos, n - pos, out
            break
        yield pos, consumed, out
        pos += consumed


def _parse_headers(block: bytes) -> dict[str, str]:
    """Header block -> {lowercased-name: value} with continuation folding."""
    out: dict[str, str] = {}
    last = None
    for line in block.split(b"\n"):
        line = line.rstrip(b"\r")
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last:
            out[last] += " " + line.strip().decode("latin-1")
            continue
        name, sep, val = line.partition(b":")
        if not sep:
            continue
        last = name.strip().decode("latin-1").lower()
        out[last] = val.strip().decode("latin-1")
    return out


def iter_warc_record_spans(
    data: bytes,
) -> Iterator[tuple[dict, bytes, int, int]]:
    """WARC bytes -> (headers, payload, offset, length) per record, where
    data[offset:offset+length] is an independently parseable slice holding
    the record: the compressed gzip member for member-per-record .warc.gz
    (the Common-Crawl layout — all records of a multi-record member share
    the member's span), or the raw record bytes for plain .warc."""
    gz = data[:2] == b"\x1f\x8b"
    if gz:
        spans: Iterator[tuple[int, int, bytes]] = _gunzip_member_spans(data)
    else:
        spans = iter([(0, len(data), data)])
    for m_off, m_len, chunk in spans:
        pos = 0
        n = len(chunk)
        while pos < n:
            start = chunk.find(b"WARC/", pos)
            if start < 0:
                break
            hdr_end = chunk.find(CRLF + CRLF, start)
            if hdr_end < 0:
                break
            headers = _parse_headers(chunk[start:hdr_end])
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                break
            body_at = hdr_end + 4
            payload = chunk[body_at : body_at + length]
            if len(payload) < length:
                break  # truncated record: stop, keep what we parsed
            if gz:
                yield headers, payload, m_off, m_len
            else:
                # plain warc: span = header..payload + the 2 trailing CRLFs
                yield headers, payload, start, min(body_at + length + 4, n) - start
            pos = body_at + length


def iter_warc_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """WARC bytes (.warc or .warc.gz) -> (headers, payload) per record."""
    for headers, payload, _off, _len in iter_warc_record_spans(data):
        yield headers, payload


def _split_http(payload: bytes) -> tuple[dict[str, str], bytes]:
    """HTTP response payload -> (headers, decoded body). Handles chunked
    transfer-encoding and gzip/deflate content-encoding; a payload that
    is not an HTTP message comes back with empty headers, body as-is."""
    if not payload.startswith(b"HTTP/"):
        return {}, payload
    headers, body = _split_http_raw(payload)
    enc = headers.get("content-encoding", "").lower()
    if enc in ("gzip", "x-gzip"):
        try:
            body = zlib.decompress(body, wbits=zlib.MAX_WBITS | 16)
        except zlib.error:
            pass  # keep raw bytes; downstream sniffing guards
    elif enc == "deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:
            try:
                body = zlib.decompress(body, wbits=-zlib.MAX_WBITS)
            except zlib.error:
                pass
    return headers, body


def warc_to_documents(data: bytes) -> list[dict]:
    """WARC blob -> documents-shaped dicts: url, warc_ts (ISO string from
    WARC-Date), html (payload body bytes), lang (Content-Language primary
    subtag or None). Only response/resource/conversion records carry
    page content; request/metadata/warcinfo records are skipped."""
    rows = []
    for headers, payload in iter_warc_records(data):
        rtype = headers.get("warc-type", "")
        if rtype not in ("response", "resource", "conversion"):
            continue
        url = headers.get("warc-target-uri", "")
        if not url:
            continue
        http, body = _split_http(payload)
        lang = http.get("content-language")
        if lang:
            lang = lang.split(",")[0].split("-")[0].strip().lower() or None
        rows.append(
            {
                "url": url,
                "warc_ts": headers.get("warc-date"),
                "html": body,
                "lang": lang,
            }
        )
    return rows


# --------------------------------------------------------------------------
# CDX(J) index: the Common-Crawl/Wayback random-access index over WARC
# --------------------------------------------------------------------------
#
# Common Crawl ships, next to every crawl's WARC files, a CDXJ index:
# one line per capture — `<surt-key> <14-digit-ts> {json}` — whose json
# carries (url, mime, status, digest, length, offset, filename) so any
# single page can be fetched with ONE ranged read of `length` bytes at
# `offset` in `filename` and gunzipped standalone, no file scan. At 100 TB
# that index is what makes point lookups and re-crawl joins feasible.


def surt(url: str) -> str:
    """URL -> SURT sort key, the pure-Python twin of the JVM expression
    `functions/web.surt_key` (parity pinned in tests/test_cdx.py): host
    lowercased, port and leading `www.` dropped, labels reversed and
    comma-joined, `)` + path with query/fragment stripped and a trailing
    slash normalized away; unparseable host -> ''."""
    import re

    m = re.match(r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//?([^/?#:]+)", url)
    host = m.group(1).lower() if m else ""
    host = re.sub(r"^www\.", "", host)
    if not host:
        return ""
    rev = ",".join(reversed(host.split(".")))
    pm = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", url)
    path = re.sub(r"/$", "", pm.group(1)) if pm else ""
    return rev + ")" + (path or "/")


def _cdx_ts(warc_date: str | None) -> str:
    """WARC-Date (ISO 8601) -> the CDX 14-digit timestamp, zero-padded on
    partial dates; missing/garbage dates index as all zeros (sorts first,
    never drops the capture)."""
    digits = "".join(c for c in (warc_date or "") if c.isdigit())[:14]
    return (digits + "00000000000000")[:14]


_B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def _sha1_b32(data: bytes) -> str:
    """SHA-1 as RFC 4648 base32 — the digest spelling WARC/CDX uses."""
    import base64
    import hashlib

    return base64.b32encode(hashlib.sha1(data).digest()).decode("ascii")


def cdx_index_records(data: bytes, filename: str) -> list[dict]:
    """WARC blob -> CDX capture dicts (surt, ts, url, mime, status, digest,
    length, offset, filename), one per response/resource/conversion record
    with a target URI. digest is sha1-b32 over the stored HTTP message body
    (transfer-encoding decoded, content-encoding kept as stored — matching
    what a ranged fetch + HTTP split of this record hands back); mime is
    the HTTP Content-Type media type (or the WARC Content-Type for
    resource/conversion records), status the HTTP status code."""
    out = []
    for headers, payload, off, ln in iter_warc_record_spans(data):
        if headers.get("warc-type", "") not in (
            "response",
            "resource",
            "conversion",
        ):
            continue
        url = headers.get("warc-target-uri", "")
        if not url:
            continue
        status = None
        if payload.startswith(b"HTTP/"):
            http, body = _split_http_raw(payload)
            line = payload.split(CRLF, 1)[0].split(b" ")
            if len(line) >= 2 and line[1].isdigit():
                status = int(line[1])
            mime = http.get("content-type", "").split(";")[0].strip() or None
        else:
            body = payload
            mime = headers.get("content-type", "").split(";")[0].strip() or None
        out.append(
            {
                "surt": surt(url),
                "ts": _cdx_ts(headers.get("warc-date")),
                "url": url,
                "mime": mime,
                "status": status,
                "digest": _sha1_b32(body),
                "length": ln,
                "offset": off,
                "filename": filename,
            }
        )
    return out


def _split_http_raw(payload: bytes) -> tuple[dict[str, str], bytes]:
    """HTTP payload -> (headers, body with transfer-encoding decoded but
    content-encoding KEPT) — the digest target: re-fetching the record and
    splitting it reproduces these exact bytes without needing the original
    encoding to round-trip."""
    sep = payload.find(CRLF + CRLF)
    if sep < 0:
        return {}, payload
    headers = _parse_headers(payload[:sep])
    body = payload[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        out = bytearray()
        pos = 0
        while pos < len(body):
            line_end = body.find(CRLF, pos)
            if line_end < 0:
                break
            try:
                size = int(body[pos:line_end].split(b";")[0], 16)
            except ValueError:
                break
            if size == 0:
                break
            out += body[line_end + 2 : line_end + 2 + size]
            pos = line_end + 2 + size + 2
        body = bytes(out)
    return headers, body


def fetch_record(blob_slice: bytes) -> tuple[dict, bytes]:
    """The random-access read the CDX index promises: given the
    `data[offset:offset+length]` slice of a WARC file, return the first
    content record's (headers, payload) — a standalone gzip member or raw
    record slice parses with the ordinary reader, no surrounding file
    context needed."""
    for headers, payload in iter_warc_records(blob_slice):
        if headers.get("warc-type") in ("response", "resource", "conversion"):
            return headers, payload
    raise ValueError("cdx: no content record in slice")


def write_cdxj(records: list[dict]) -> bytes:
    """CDX capture dicts -> CDXJ text: `surt ts {json}` lines sorted by
    (surt, ts) — the Common-Crawl cdx-NNNNN file body."""
    import json

    lines = []
    for r in sorted(records, key=lambda r: (r["surt"], r["ts"])):
        js = {
            k: r[k]
            for k in ("url", "mime", "status", "digest", "length", "offset", "filename")
            if r.get(k) is not None
        }
        lines.append(
            f"{r['surt']} {r['ts']} "
            + json.dumps(js, separators=(", ", ": "), sort_keys=True)
        )
    return ("\n".join(lines) + "\n").encode() if lines else b""


def read_cdxj(data: bytes) -> list[dict]:
    """CDXJ bytes -> capture dicts (inverse of write_cdxj)."""
    import json

    out = []
    for line in data.decode().splitlines():
        if not line.strip():
            continue
        key, ts, js = line.split(" ", 2)
        d = json.loads(js)
        d["surt"], d["ts"] = key, ts
        out.append(d)
    return out


# --------------------------------------------------------------------------
# fixture writer
# --------------------------------------------------------------------------


def _gzip_member(raw: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, zlib.MAX_WBITS | 16)
    return co.compress(raw) + co.flush()


def write_warc_gz(rows: list[dict]) -> bytes:
    """documents-shaped dicts -> member-per-record .warc.gz with a leading
    warcinfo record, each page as a full HTTP response (the Common-Crawl
    layout)."""

    def record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
        head = b"WARC/1.0\r\n"
        head += b"".join(
            f"{k}: {v}\r\n".encode("latin-1") for k, v in headers
        )
        head += f"Content-Length: {len(payload)}\r\n".encode()
        return head + CRLF + payload + CRLF + CRLF

    out = bytearray()
    info = b"software: kraken-spark-warc-writer\r\n"
    out += _gzip_member(
        record(
            [("WARC-Type", "warcinfo"), ("WARC-Record-ID", "<urn:uuid:0>")],
            info,
        )
    )
    for i, r in enumerate(rows):
        body = bytes(r["html"] or b"")
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            + (
                f"Content-Language: {r['lang']}\r\n".encode()
                if r.get("lang")
                else b""
            )
            + f"Content-Length: {len(body)}\r\n".encode()
            + CRLF
            + body
        )
        hdrs = [
            ("WARC-Type", "response"),
            ("WARC-Record-ID", f"<urn:uuid:{i + 1}>"),
            ("WARC-Target-URI", r["url"]),
            ("Content-Type", "application/http; msgtype=response"),
        ]
        if r.get("warc_ts"):
            hdrs.append(("WARC-Date", str(r["warc_ts"])))
        out += _gzip_member(record(hdrs, http))
    return bytes(out)


def write_wet_gz(rows: list[dict], software: str = "kraken-spark-wet-writer") -> bytes:
    """Extraction output dicts (url, text, optional warc_ts/lang/refers_to)
    -> a .wet.gz blob: the Common-Crawl WET layout — a warcinfo record
    followed by one WARC `conversion` record per page whose payload is the
    extracted plain text (UTF-8, Content-Type text/plain), WARC-Refers-To
    linking back to the source response record. Member-per-record gzip so
    readers can split on member boundaries, same as the WARC writer."""

    def record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
        head = b"WARC/1.0\r\n"
        head += b"".join(f"{k}: {v}\r\n".encode("latin-1") for k, v in headers)
        head += f"Content-Length: {len(payload)}\r\n".encode()
        return head + CRLF + payload + CRLF + CRLF

    out = bytearray()
    info = f"software: {software}\r\nformat: WET File Format 1.0\r\n".encode()
    out += _gzip_member(
        record(
            [
                ("WARC-Type", "warcinfo"),
                ("WARC-Record-ID", "<urn:uuid:wet-0>"),
                ("Content-Type", "application/warc-fields"),
            ],
            info,
        )
    )
    for i, r in enumerate(rows):
        body = (r.get("text") or "").encode("utf-8")
        hdrs = [
            ("WARC-Type", "conversion"),
            ("WARC-Record-ID", f"<urn:uuid:wet-{i + 1}>"),
            ("WARC-Target-URI", r["url"]),
            ("Content-Type", "text/plain"),
        ]
        if r.get("refers_to"):
            hdrs.append(("WARC-Refers-To", str(r["refers_to"])))
        if r.get("warc_ts"):
            hdrs.append(("WARC-Date", str(r["warc_ts"])))
        if r.get("lang"):
            hdrs.append(("WARC-Identified-Content-Language", str(r["lang"])))
        out += _gzip_member(record(hdrs, body))
    return bytes(out)


def write_wet_shards(extracted_df, out_dir: str) -> None:
    """Spark face of the WET sink: extraction output (url, text, + any of
    warc_ts/lang) -> one .wet.gz file per partition under out_dir, written
    executor-side with no driver bottleneck (the write_ipc_shards pattern,
    sources/arrow_dataset.py) — at 100 TB each task streams its partition
    into its own shard, mirroring how Common Crawl ships one WET file per
    WARC file. Rows are sorted by url within a shard for determinism."""
    import os

    import pyarrow as pa

    cols = [c for c in ("url", "warc_ts", "text", "lang") if c in extracted_df.columns]

    def fn(batches):
        from pyspark import TaskContext

        rows = []
        for batch in batches:
            for r in batch.to_pylist():
                rows.append(
                    {
                        "url": r["url"],
                        "text": r.get("text") or "",
                        "warc_ts": r.get("warc_ts"),
                        "lang": r.get("lang"),
                    }
                )
        schema = pa.schema([pa.field("path", pa.string()), pa.field("n", pa.int64())])
        if rows:
            rows.sort(key=lambda r: r["url"])
            pid = TaskContext.get().partitionId()
            path = os.path.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
            with open(path, "wb") as f:
                f.write(write_wet_gz(rows))
            yield pa.RecordBatch.from_pylist(
                [{"path": path, "n": len(rows)}], schema=schema
            )

    os.makedirs(out_dir, exist_ok=True)
    manifest = extracted_df.select(*cols).mapInArrow(
        fn, schema="path string, n bigint"
    )
    shards = [r.asDict() for r in manifest.collect()]  # tiny: one row/shard
    import json

    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"shards": sorted(shards, key=lambda s: s["path"])}, f, indent=1)


# --------------------------------------------------------------------------
# Spark face
# --------------------------------------------------------------------------


def explode_warc(files_df):
    """DataFrame (path string, content binary) -> documents-shaped rows
    (url, warc_ts string, html binary, lang string), one per response
    record. One task per WARC file — the Common-Crawl-scale partitioning
    (file count >> core count at 100 TB; see module docstring)."""
    import pyarrow as pa

    def fn(batches):
        schema = pa.schema(
            [
                pa.field("url", pa.string()),
                pa.field("warc_ts", pa.string()),
                pa.field("html", pa.binary()),
                pa.field("lang", pa.string()),
            ]
        )
        for batch in batches:
            out = []
            for r in batch.to_pylist():
                try:
                    rows = warc_to_documents(bytes(r["content"] or b""))
                except Exception:
                    rows = []
                out.extend(rows)
            if out:
                yield pa.RecordBatch.from_pylist(out, schema=schema)

    return files_df.mapInArrow(
        fn, schema="url string, warc_ts string, html binary, lang string"
    )


_CDX_SCHEMA = (
    "surt string, ts string, url string, mime string, status int, "
    "digest string, length bigint, offset bigint, filename string"
)


def cdx_index(files_df):
    """DataFrame (path string, content binary) -> one CDX capture row per
    content record (see cdx_index_records). One task per WARC file — the
    same file-grain partitioning as explode_warc; at 100 TB the index
    build is a map-only pass over the WARC fileset, no shuffle until the
    caller sorts/shards."""
    import pyarrow as pa

    def fn(batches):
        schema = pa.schema(
            [
                pa.field("surt", pa.string()),
                pa.field("ts", pa.string()),
                pa.field("url", pa.string()),
                pa.field("mime", pa.string()),
                pa.field("status", pa.int32()),
                pa.field("digest", pa.string()),
                pa.field("length", pa.int64()),
                pa.field("offset", pa.int64()),
                pa.field("filename", pa.string()),
            ]
        )
        for batch in batches:
            out = []
            for r in batch.to_pylist():
                try:
                    out.extend(
                        cdx_index_records(bytes(r["content"] or b""), r["path"])
                    )
                except Exception:
                    pass  # unreadable file: index what parses, skip the rest
            if out:
                yield pa.RecordBatch.from_pylist(out, schema=schema)

    return files_df.mapInArrow(fn, schema=_CDX_SCHEMA)


def write_cdx_shards(cdx_df, out_dir: str, num_shards: int | None = None) -> None:
    """Spark face of the CDX sink, in Common Crawl's two-level shipping
    layout: captures are range-partitioned BY SURT KEY and sorted within
    each shard (repartitionByRange + sortWithinPartitions — one global
    sort shuffle, the only one the index needs), each task gzips its own
    `cdx-NNNNN.gz` shard executor-side, and a tiny `cluster.idx` secondary
    index (first surt key + shard file per shard, driver-written from one
    row per shard) routes a point lookup to the single shard that can hold
    its key. Lookup cost at 10^12 captures: binary-search cluster.idx in
    memory, scan one shard, one ranged WARC read."""
    import os

    import pyarrow as pa
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    if num_shards:
        parted = cdx_df.repartitionByRange(num_shards, F.col("surt"), F.col("ts"))
    else:
        parted = cdx_df.repartitionByRange(F.col("surt"), F.col("ts"))
    parted = parted.sortWithinPartitions("surt", "ts")

    def fn(batches):
        from pyspark import TaskContext

        rows = []
        for batch in batches:
            rows.extend(batch.to_pylist())
        schema = pa.schema(
            [
                pa.field("path", pa.string()),
                pa.field("first_surt", pa.string()),
                pa.field("first_ts", pa.string()),
                pa.field("n", pa.int64()),
            ]
        )
        if rows:
            pid = TaskContext.get().partitionId()
            path = os.path.join(out_dir, f"cdx-{pid:05d}.gz")
            body = "\n".join(
                f"{r['surt']} {r['ts']} " + _cdx_json(r) for r in rows
            )
            with open(path, "wb") as f:
                f.write(_gzip_member((body + "\n").encode()))
            yield pa.RecordBatch.from_pylist(
                [
                    {
                        "path": path,
                        "first_surt": rows[0]["surt"],
                        "first_ts": rows[0]["ts"],
                        "n": len(rows),
                    }
                ],
                schema=schema,
            )

    manifest = parted.mapInArrow(
        fn, schema="path string, first_surt string, first_ts string, n bigint"
    )
    shards = sorted(
        (r.asDict() for r in manifest.collect()),  # tiny: one row per shard
        key=lambda s: (s["first_surt"], s["first_ts"]),
    )
    with open(os.path.join(out_dir, "cluster.idx"), "w") as f:
        for s in shards:
            f.write(
                f"{s['first_surt']} {s['first_ts']}\t"
                f"{os.path.basename(s['path'])}\t{s['n']}\n"
            )


def _cdx_json(r: dict) -> str:
    import json

    return json.dumps(
        {
            k: r[k]
            for k in ("url", "mime", "status", "digest", "length", "offset", "filename")
            if r.get(k) is not None
        },
        separators=(", ", ": "),
        sort_keys=True,
    )


def cdx_lookup(out_dir: str, url: str) -> list[dict]:
    """Point lookup against a write_cdx_shards layout: route through
    cluster.idx to the one shard whose key range can contain the url's
    surt, gunzip and scan that shard only. The library-side proof that the
    sharded index is complete and routable."""
    import bisect
    import os

    key = surt(url)
    with open(os.path.join(out_dir, "cluster.idx")) as f:
        entries = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    if not entries:
        return []
    firsts = [e[0].split(" ", 1)[0] for e in entries]
    i = bisect.bisect_right(firsts, key) - 1
    hits = []
    # equal keys can straddle a shard boundary: scan while the NEXT shard
    # still starts at/below the key
    for j in range(max(i, 0), len(entries)):
        if firsts[j] > key:
            break
        shard = os.path.join(out_dir, entries[j][1])
        with open(shard, "rb") as f:
            data = zlib.decompress(f.read(), wbits=zlib.MAX_WBITS | 16)
        hits.extend(r for r in read_cdxj(data) if r["surt"] == key)
    return hits


def cdx_digest_dedup(cdx_df):
    """Capture-level dedup by content digest — the Common-Crawl convention
    (the CDX `digest` column exists for exactly this): group captures by
    (surt, digest), keep the EARLIEST capture of each distinct content
    body per URL, and report how many later recrawls it shadows.

    Returns (surt, digest, ts, url, filename, offset, length, n_dupes) —
    one row per distinct (page, content) pair, pointing at the canonical
    capture's ranged-read coordinates. ONE groupBy over the index (never
    the WARC bytes); at 10^12 captures this is the standard metadata-only
    recrawl-collapse pass that runs before any payload is fetched."""
    import pyspark.sql.functions as F

    keyed = cdx_df.select(
        "surt",
        "digest",
        F.struct("ts", "url", "filename", "offset", "length").alias("cap"),
    )
    kept = keyed.groupBy("surt", "digest").agg(
        F.min("cap").alias("first"), (F.count("*") - 1).alias("n_dupes")
    )
    return kept.select(
        "surt",
        "digest",
        F.col("first.ts").alias("ts"),
        F.col("first.url").alias("url"),
        F.col("first.filename").alias("filename"),
        F.col("first.offset").alias("offset"),
        F.col("first.length").alias("length"),
        "n_dupes",
    )
