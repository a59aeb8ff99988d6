"""WARC (Web ARChive, ISO 28500) record parsing — the ingest format
of real web-crawl corpora (Common Crawl ships WARC/WAT/WET).

A 100 TB web pipeline's first stage is splitting concatenated WARC
records out of crawl archives; this module does it with the same
design as the other dependency-free decoders (``multimodal.parse_png``
/ ``parse_wav``): a strict-but-tolerant driver-side parser, a
:func:`._payload.map_payloads` stage that keeps payload bytes on
executors (one input archive row → N record rows), a deterministic
fixture builder whose records a SQL oracle can reproduce in closed
form, and corrupt payloads yielding a null row instead of a stage
failure.

Supported: plain WARC and gzipped WARC (both whole-file gzip and the
per-record-member concatenation Common Crawl uses — stdlib zlib,
multi-member loop). Header parsing follows the spec: version line
``WARC/1.x``, CRLF header lines until an empty line, mandatory
``Content-Length``, record block followed by two CRLFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._payload import Rows, build_payloads, map_payloads

__all__ = [
    "cdx_index",
    "parse_warc",
    "parse_http_response",
    "warc_records",
    "http_responses",
    "write_wet",
    "write_wat",
    "wat_metadata",
    "make_warc_payload",
    "make_http_warc_payload",
]

_GZIP_MAGIC = b"\x1f\x8b"

#: Decompression output cap applied to every untrusted gzip/deflate
#: payload in this module (WARC member streams and HTTP bodies). A
#: compression bomb — kilobytes of input expanding to gigabytes —
#: would otherwise fill executor memory and OOM the worker; past the
#: cap the tolerant-reader stance applies and the payload reads as
#: corrupt (None). 64 MiB comfortably covers real crawl records
#: (Common Crawl caps fetches at ~1 MiB) while bounding the blast
#: radius of a crafted record to well under a task's memory budget.
MAX_DECODED_BYTES = 64 * 1024 * 1024

_INFLATE_CHUNK = 1 << 20


def _bounded_inflate(d, data: bytes, out: bytearray, cap: int) -> bool:
    """Stream ``data`` through decompressobj ``d`` into ``out``,
    never letting ``out`` grow past ``cap``. Returns False when the
    cap would be exceeded (bomb), True otherwise. Raises zlib.error
    on corrupt input (the caller's contract for bad data)."""
    tail = data
    while tail and not d.eof:
        chunk = d.decompress(tail, _INFLATE_CHUNK)
        out += chunk
        if len(out) > cap:
            return False
        new_tail = d.unconsumed_tail
        if not chunk and new_tail == tail:
            break  # no progress: stop rather than spin
        tail = new_tail
    out += d.flush()
    return len(out) <= cap


def _gunzip_members(
    buf: bytes, cap: int = MAX_DECODED_BYTES
) -> bytes | None:
    """Decompress a concatenation of gzip members (the Common Crawl
    layout: one member per record). Returns None on a corrupt
    stream or when total decoded output exceeds ``cap`` (bomb
    guard — see MAX_DECODED_BYTES)."""
    import zlib

    out = bytearray()
    pos = 0
    while pos < len(buf):
        d = zlib.decompressobj(wbits=31)
        try:
            if not _bounded_inflate(d, buf[pos:], out, cap):
                return None
        except zlib.error:
            return None
        if not d.eof:
            return None  # truncated member
        consumed = len(buf) - pos - len(d.unused_data)
        if consumed <= 0:
            return None
        pos += consumed
    return bytes(out)


def _inflate_capped(
    data: bytes, wbits: int, cap: int = MAX_DECODED_BYTES
) -> bytes | None:
    """One-shot bounded zlib.decompress replacement: bytes, or None
    when the output exceeds ``cap``. Raises zlib.error on corrupt or
    truncated input (so deflate-flavor fallbacks still work)."""
    import zlib

    d = zlib.decompressobj(wbits=wbits)
    out = bytearray()
    if not _bounded_inflate(d, data, out, cap):
        return None
    if not d.eof:
        raise zlib.error("truncated stream")
    return bytes(out)


def parse_warc(payload: bytes) -> list[dict] | None:
    r"""Split a (possibly gzipped) WARC payload into records. Each
    record dict carries ``rec_type``, ``target_uri``, ``warc_date``,
    ``content_length`` and ``body`` (bytes). Returns ``None`` for
    payloads that are not WARC at all or whose structure is corrupt
    (bad version line, missing/invalid Content-Length, truncated
    block) — the tolerant-reader stance stops at structure, never
    guesses lengths.

    Examples
    --------
        >>> rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
        ...        b"WARC-Target-URI: http://e.com/\r\n"
        ...        b"Content-Length: 5\r\n\r\nhello\r\n\r\n")
        >>> [r["rec_type"] for r in parse_warc(rec * 2)]
        ['response', 'response']
        >>> parse_warc(b"HTTP/1.1 200 OK\r\n") is None
        True
    """
    if payload is None or len(payload) < 9:
        return None
    buf = bytes(payload)
    if buf[:2] == _GZIP_MAGIC:
        decoded = _gunzip_members(buf)
        if decoded is None:
            return None
        buf = decoded
    records: list[dict] = []
    pos = 0
    n = len(buf)
    while pos < n:
        # tolerate stray CRLF/LF padding between records
        while pos < n and buf[pos] in (0x0D, 0x0A):
            pos += 1
        if pos >= n:
            break
        if not buf.startswith(b"WARC/", pos):
            return None
        head_end = buf.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return None
        head_lines = buf[pos:head_end].split(b"\r\n")
        version = head_lines[0]
        if not version.startswith(b"WARC/1."):
            return None
        headers: dict[str, str] = {}
        for line in head_lines[1:]:
            sep = line.find(b":")
            if sep < 0:
                return None
            key = line[:sep].strip().lower().decode("ascii", "replace")
            headers[key] = line[sep + 1 :].strip().decode("utf-8", "replace")
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            return None
        if length < 0:
            return None
        body_start = head_end + 4
        if body_start + length > n:
            return None  # truncated block
        records.append(
            {
                "rec_type": headers.get("warc-type"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_length": length,
                "body": buf[body_start : body_start + length],
            }
        )
        pos = body_start + length
    return records


WARC_RECORD_FIELDS = [
    T.StructField("rec_idx", T.LongType()),
    T.StructField("rec_type", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("content_length", T.LongType()),
    T.StructField("body", T.BinaryType()),
]


def _dechunk(data: bytes) -> bytes | None:
    """Undo HTTP/1.1 chunked transfer coding (RFC 9112 §7.1): hex
    chunk sizes (chunk extensions after ``;`` ignored), CRLF-framed
    data, a 0-size last chunk, then optional trailer fields up to the
    final blank line. None on malformed framing."""
    out = bytearray()
    pos = 0
    n = len(data)
    while True:
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            return None
        size_tok = data[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        pos = eol + 2
        if size == 0:
            # trailer section: header lines until a blank line (the
            # blank may be immediate)
            while pos < n:
                eol = data.find(b"\r\n", pos)
                if eol < 0:
                    return None
                if eol == pos:  # blank line ends the message
                    return bytes(out)
                pos = eol + 2
            return bytes(out)
        if pos + size + 2 > n:
            return None
        out += data[pos : pos + size]
        if data[pos + size : pos + size + 2] != b"\r\n":
            return None
        pos += size + 2


def parse_http_response(body: bytes) -> dict | None:
    r"""Parse one HTTP response message — the block of a WARC
    ``response`` record — down to its decoded payload: status line,
    header fields (case-insensitive, RFC 9112 obs-fold continuation
    lines unfolded), ``Transfer-Encoding: chunked`` de-chunking
    (hex sizes, chunk extensions, trailer fields) and
    ``Content-Encoding`` gzip / x-gzip / deflate (both the
    zlib-wrapped form the RFC means and the raw-deflate form real
    servers actually send). ``text`` decodes the payload by the
    Content-Type charset (HTTP's ISO-8859-1 default when absent,
    latin-1 fallback for unknown labels — never a crash).

    Returns ``{"status", "reason", "headers", "content_type",
    "charset", "payload", "text"}`` or ``None`` for non-HTTP bodies,
    malformed framing, or an encoding outside the subset (the honest
    stance of the other decoders).

    Examples
    --------
        >>> m = parse_http_response(
        ...     b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        ...     b"Transfer-Encoding: chunked\r\n\r\n"
        ...     b"5;x=1\r\nhello\r\n1\r\n!\r\n0\r\nX-T: t\r\n\r\n")
        >>> (m["status"], m["text"])
        (200, 'hello!')
    """
    import re
    import zlib

    if body is None:
        return None
    try:
        buf = bytes(body)
        m = re.match(rb"HTTP/1\.[01] (\d{3})(?: ([^\r\n]*))?\r?\n", buf)
        if not m:
            return None
        status = int(m.group(1))
        reason = (m.group(2) or b"").decode("latin-1")
        head_end = buf.find(b"\r\n\r\n")
        sep = 4
        if head_end < 0:
            head_end = buf.find(b"\n\n")
            sep = 2
        if head_end < 0:
            return None
        headers: dict[str, str] = {}
        last_key = None
        for line in buf[m.end() : head_end].splitlines():
            if not line:
                continue
            if line[:1] in (b" ", b"\t") and last_key:  # obs-fold
                headers[last_key] += " " + line.strip().decode(
                    "latin-1"
                )
                continue
            hsep = line.find(b":")
            if hsep < 0:
                return None
            key = line[:hsep].strip().lower().decode("latin-1")
            headers[key] = line[hsep + 1 :].strip().decode("latin-1")
            last_key = key
        payload = buf[head_end + sep :]
        te = headers.get("transfer-encoding", "").lower().strip()
        if te in ("chunked",):
            payload = _dechunk(payload)
            if payload is None:
                return None
        elif te not in ("", "identity"):
            return None
        ce = headers.get("content-encoding", "").lower().strip()
        if ce in ("gzip", "x-gzip"):
            payload = _inflate_capped(payload, wbits=31)
        elif ce == "deflate":
            try:
                payload = _inflate_capped(payload, wbits=15)
            except zlib.error:  # raw deflate, the common server bug
                payload = _inflate_capped(payload, wbits=-15)
        elif ce not in ("", "identity"):
            return None
        if payload is None:  # decompression bomb: over MAX_DECODED_BYTES
            return None
        ctype = headers.get("content-type", "")
        cm = re.search(r"charset=\"?([A-Za-z0-9_.:\-]+)", ctype)
        charset = (cm.group(1) if cm else "iso-8859-1").lower()
        try:
            text = payload.decode(charset, errors="replace")
        except LookupError:
            charset = "iso-8859-1"
            text = payload.decode("latin-1")
        return {
            "status": status,
            "reason": reason,
            "headers": headers,
            "content_type": ctype.split(";")[0].strip().lower() or None,
            "charset": charset,
            "payload": payload,
            "text": text,
        }
    except (ValueError, IndexError, zlib.error, OverflowError):
        return None


HTTP_RESPONSE_FIELDS = [
    T.StructField("status", T.LongType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("charset", T.StringType()),
    T.StructField("n_payload_bytes", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("text", T.StringType()),
]


def _http_rows(body: bytes) -> Rows:
    meta = parse_http_response(body)
    if meta is None:
        return None
    return [
        (
            meta["status"],
            meta["content_type"],
            meta["charset"],
            len(meta["payload"]),
            meta["payload"],
            meta["text"],
        )
    ]


def _record_rows(payload: bytes) -> Rows:
    recs = parse_warc(payload)
    if recs is None:
        return None
    return [
        (
            j,
            r["rec_type"],
            r["target_uri"],
            r["warc_date"],
            r["content_length"],
            r["body"],
        )
        for j, r in enumerate(recs)
    ]


def http_responses(
    df: DataFrame,
    id_col: str = "doc_id",
    body_col: str = "body",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """HTTP-layer decode over WARC ``response`` record bodies — the
    stage between :func:`warc_records` and ``web.html_to_text`` in a
    real WET pipeline (status line + headers stripped, chunked
    framing undone, gzip/deflate content decoded, charset applied).
    Out-of-subset or malformed messages yield null columns.
    ``passthrough`` columns
    (e.g. ``rec_idx``, ``target_uri``) ride through the stage so a
    composed crawl query needs no join back."""
    return map_payloads(
        df, _http_rows, HTTP_RESPONSE_FIELDS, id_col, body_col, passthrough or ()
    )


def warc_records(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode each WARC archive payload into one row per record —
    the crawl-ingest stage: one input row fans out to N output rows
    (map-only, no shuffle; at 100 TB the cost is the archive scan). A
    corrupt archive yields ONE null-record row (``rec_idx`` null) so
    bad inputs stay visible and attributable instead of vanishing."""
    return map_payloads(df, _record_rows, WARC_RECORD_FIELDS, id_col, payload_col)


def cdx_index(
    records: DataFrame,
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
    body_col: str = "body",
    type_col: str = "rec_type",
) -> DataFrame:
    """CDX-style capture index rows from :func:`warc_records` output —
    the lookup artifact every crawl archive ships alongside the WARCs
    (Common Crawl's cdx-*.gz files): one row per ``response`` record,
    sorted-mergeable by SURT key + timestamp.

    Columns (the CDXJ core subset):

    - ``surt_key`` — the canonicalized URL in Sort-friendly URI
      Reordering Transform form: host labels reversed and
      comma-joined (port kept after ``:``), then ``)`` + path +
      sorted query, e.g. ``com,example,blog)/a?x=1``;
    - ``ts14`` — the 14-digit capture timestamp (digits of the
      WARC-Date);
    - ``url`` — the canonical URL (:func:`web.canonical_url`);
    - ``digest`` — md5 hex of the payload body (real CDX uses
      sha1-base32; md5 is the stdlib/engine-portable stand-in and is
      value-checked by the oracle);
    - ``length`` — payload byte length.

    Pure Column over the record rows (map-only — at 100 TB the index
    costs the WARC scan it already shares with text extraction); the
    natural next step is a ``write_partitioned`` by the first SURT
    label + sort within partitions, which yields the binary-
    searchable layout CDX servers expect.
    """
    from .web import canonical_url, host_of

    canon = canonical_url(F.col(uri_col))
    host = host_of(canon)
    # F.get (not getItem): portless hosts make index 1 out of bounds,
    # which ANSI mode turns into a job failure instead of a NULL
    hostname = F.get(F.split(host, ":"), 0)
    port = F.get(F.split(host, ":"), 1)
    rev = F.concat_ws(",", F.reverse(F.split(hostname, r"\.")))
    surt_host = F.when(
        port.isNotNull(), F.concat(rev, F.lit(":"), port)
    ).otherwise(rev)
    path_query = F.regexp_replace(canon, r"^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    return records.where(F.col(type_col) == "response").select(
        F.concat(surt_host, F.lit(")"), path_query).alias("surt_key"),
        F.regexp_replace(F.col(date_col), r"[^0-9]", "").alias("ts14"),
        canon.alias("url"),
        F.md5(F.col(body_col)).alias("digest"),
        F.length(F.col(body_col)).cast("long").alias("length"),
    )


def write_wet(
    pages: DataFrame,
    records_per_shard: int = 1000,
    uri_col: str = "url",
    text_col: str = "text",
    date: str = "2024-01-01T00:00:00Z",
    seed: str = "wet",
    gzip_mode: str = "none",
) -> DataFrame:
    """WET write side (r8): pack extracted page text back into
    WARC-format archives of ``conversion`` records — the Common Crawl
    WET layout, closing the crawl loop (``warc_records`` →
    ``web.html_to_text`` → curation → ``write_wet``). Output is one
    row per shard: ``(shard_id, n_records, n_bytes, payload)``; each
    shard holds a leading ``warcinfo`` record then exactly
    ``records_per_shard`` conversion records (fewer in the last),
    each with WARC-Target-URI, the fixed ``date`` (determinism —
    pass the crawl timestamp), Content-Type: text/plain and a correct
    Content-Length.

    Shard assignment is the :func:`webdataset.write_webdataset`
    discipline: a dense global position ordered by
    ``md5(seed || ':' || uri)`` (sharded cumsum, no single-task
    window), ``shard_id = pos // records_per_shard``, records written
    in position order — any engine replays both the assignment AND
    the within-shard record indexes (the ``wet_roundtrip`` oracle
    does). ``gzip_mode``: ``"none"`` or ``"members"`` (one gzip
    member per record, the Common Crawl layout — readable back by
    :func:`warc_records`).

    Page text shuffles exactly once (into its shard group); a shard's
    bytes exist only inside its one pack task, so executor memory
    bounds shard size, never corpus size.
    """
    import gzip as _gzip

    from .quality import training_order

    if gzip_mode not in ("none", "members"):
        raise ValueError(f"unknown gzip_mode: {gzip_mode}")

    ordered = training_order(
        pages.select(uri_col, text_col), uri_col, seed=seed
    )
    with_shard = ordered.select(
        F.col(uri_col).alias("uri"),
        F.col(text_col).alias("text"),
        "pos",
        (F.col("pos") / F.lit(int(records_per_shard)))
        .cast("long")
        .alias("shard_id"),
    )
    out_schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _record(rtype: str, uri: str | None, body: bytes) -> bytes:
        head = [b"WARC/1.0", b"WARC-Type: " + rtype.encode()]
        if uri is not None:
            head.append(b"WARC-Target-URI: " + uri.encode())
        head.append(b"WARC-Date: " + date.encode())
        head.append(b"Content-Type: text/plain")
        head.append(b"Content-Length: %d" % len(body))
        return b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        recs = [_record("warcinfo", None, b"software: flycatcher-wet")]
        for uri, text in zip(pdf["uri"], pdf["text"]):
            recs.append(
                _record("conversion", uri, ("" if text is None else text).encode())
            )
        if gzip_mode == "members":
            payload = b"".join(_gzip.compress(r, mtime=0) for r in recs)
        else:
            payload = b"".join(recs)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "n_records": [len(recs)],
                "n_bytes": [len(payload)],
                "payload": [payload],
            }
        )

    return with_shard.groupBy("shard_id").applyInPandas(
        pack, schema=out_schema
    )


def write_wat(
    pages: DataFrame,
    records_per_shard: int = 1000,
    uri_col: str = "uri",
    status_col: str = "status",
    ctype_col: str = "content_type",
    title_col: str = "title",
    links_col: str = "links",
    date: str = "2024-01-01T00:00:00Z",
    seed: str = "wat",
    gzip_mode: str = "none",
) -> DataFrame:
    """WAT write side (r9): pack per-page crawl METADATA into
    WARC-format archives of ``metadata`` records — the third leg of
    the Common Crawl WARC/WAT/WET triple. Each record's body is the
    WAT envelope JSON (deterministic: sorted keys, compact
    separators): WARC-Header-Metadata for the original response plus
    HTTP-Response-Metadata carrying the status, Content-Type header,
    and HTML-Metadata (Head.Title + the outgoing Links list) — the
    fields the public WAT consumers (link-graph builders, title
    indexes) actually read.

    Input is one row per page: ``uri``, ``status`` (int),
    ``content_type``, ``title`` (nullable), ``links``
    (array<string>). Sharding, ordering and gzip are exactly
    :func:`write_wet`'s discipline — md5-order dense positions via a
    sharded cumsum, ``records_per_shard`` per archive behind one
    ``warcinfo`` record, one pack task per shard, metadata shuffles
    once. Output rows: ``(shard_id, n_records, n_bytes, payload)``,
    readable back by :func:`warc_records` + :func:`wat_metadata`.
    """
    import gzip as _gzip
    import json as _json

    from .quality import training_order

    if gzip_mode not in ("none", "members"):
        raise ValueError(f"unknown gzip_mode: {gzip_mode}")

    ordered = training_order(
        pages.select(uri_col, status_col, ctype_col, title_col, links_col),
        uri_col,
        seed=seed,
    )
    with_shard = ordered.select(
        F.col(uri_col).alias("uri"),
        F.col(status_col).alias("status"),
        F.col(ctype_col).alias("ctype"),
        F.col(title_col).alias("title"),
        F.col(links_col).alias("links"),
        "pos",
        (F.col("pos") / F.lit(int(records_per_shard)))
        .cast("long")
        .alias("shard_id"),
    )
    out_schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _record(rtype: str, uri: str | None, ctype: str, body: bytes) -> bytes:
        head = [b"WARC/1.0", b"WARC-Type: " + rtype.encode()]
        if uri is not None:
            head.append(b"WARC-Target-URI: " + uri.encode())
        head.append(b"WARC-Date: " + date.encode())
        head.append(b"Content-Type: " + ctype.encode())
        head.append(b"Content-Length: %d" % len(body))
        return b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        recs = [
            _record(
                "warcinfo", None, "text/plain", b"software: flycatcher-wat"
            )
        ]
        for uri, status, ctype, title, links in zip(
            pdf["uri"], pdf["status"], pdf["ctype"], pdf["title"],
            pdf["links"],
        ):
            envelope = {
                "Envelope": {
                    "WARC-Header-Metadata": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": uri,
                        "WARC-Date": date,
                    },
                    "Payload-Metadata": {
                        "HTTP-Response-Metadata": {
                            "Response-Message": {
                                # status is nullable: a null must
                                # become a null Status field (the read
                                # side's .cast("long") mirrors it back
                                # to null), not a TypeError that fails
                                # the whole applyInPandas task
                                "Status": (
                                    None
                                    if pd.isna(status)
                                    else str(int(status))
                                )
                            },
                            "Headers": {"Content-Type": ctype},
                            "HTML-Metadata": {
                                "Head": {"Title": title},
                                "Links": [
                                    {"url": u}
                                    for u in (
                                        links
                                        if links is not None
                                        else []
                                    )
                                ],
                            },
                        }
                    },
                }
            }
            body = _json.dumps(
                envelope, sort_keys=True, separators=(",", ":")
            ).encode("utf-8")
            recs.append(_record("metadata", uri, "application/json", body))
        if gzip_mode == "members":
            payload = b"".join(_gzip.compress(r, mtime=0) for r in recs)
        else:
            payload = b"".join(recs)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "n_records": [len(recs)],
                "n_bytes": [len(payload)],
                "payload": [payload],
            }
        )

    return with_shard.groupBy("shard_id").applyInPandas(
        pack, schema=out_schema
    )


#: typed schema of the WAT envelope subtree the readers consume
WAT_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "Envelope",
            T.StructType(
                [
                    T.StructField(
                        "WARC-Header-Metadata",
                        T.StructType(
                            [
                                T.StructField("WARC-Type", T.StringType()),
                                T.StructField(
                                    "WARC-Target-URI", T.StringType()
                                ),
                                T.StructField("WARC-Date", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "Payload-Metadata",
                        T.StructType(
                            [
                                T.StructField(
                                    "HTTP-Response-Metadata",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "Response-Message",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Status",
                                                            T.StringType(),
                                                        )
                                                    ]
                                                ),
                                            ),
                                            T.StructField(
                                                "Headers",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Content-Type",
                                                            T.StringType(),
                                                        )
                                                    ]
                                                ),
                                            ),
                                            T.StructField(
                                                "HTML-Metadata",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Head",
                                                            T.StructType(
                                                                [
                                                                    T.StructField(
                                                                        "Title",
                                                                        T.StringType(),
                                                                    )
                                                                ]
                                                            ),
                                                        ),
                                                        T.StructField(
                                                            "Links",
                                                            T.ArrayType(
                                                                T.StructType(
                                                                    [
                                                                        T.StructField(
                                                                            "url",
                                                                            T.StringType(),
                                                                        )
                                                                    ]
                                                                )
                                                            ),
                                                        ),
                                                    ]
                                                ),
                                            ),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    ),
                ]
            ),
        )
    ]
)


def wat_metadata(
    records: DataFrame, body_col: str = "body"
) -> DataFrame:
    """Parse WAT envelope JSON out of :func:`warc_records` rows —
    pure Column (`from_json` with the typed envelope schema, JVM-side
    Jackson, no Python): adds ``status`` (long), ``resp_content_type``,
    ``title`` and ``links`` (array<string>) to the input rows;
    non-JSON bodies (warcinfo records, corrupt rows) parse to nulls.
    At 100 TB this is scan-speed metadata extraction over the WAT
    archives — the link-graph feed (`web.host_links` composes
    directly on ``links``)."""
    env = F.from_json(
        F.col(body_col).cast("string"), WAT_ENVELOPE_SCHEMA
    )["Envelope"]
    http = env["Payload-Metadata"]["HTTP-Response-Metadata"]
    return records.select(
        "*",
        http["Response-Message"]["Status"].cast("long").alias("status"),
        http["Headers"]["Content-Type"].alias("resp_content_type"),
        http["HTML-Metadata"]["Head"]["Title"].alias("title"),
        F.transform(
            http["HTML-Metadata"]["Links"], lambda x: x["url"]
        ).alias("links"),
    )


def make_warc_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    gzip_mode: str = "none",
) -> DataFrame:
    """Build a deterministic WARC archive per row (fixture/oracle
    generator; the :func:`multimodal.make_png_payload` pattern): a
    ``warcinfo`` record followed by ``1 + id % 3`` ``response``
    records whose URI is ``http://example.com/<id>/<j>`` and whose
    body is the closed-form string ``"body <id> <j> " + "x" * (id %
    7)`` — every header and body statistic is reproducible in SQL.
    ``gzip_mode``: ``"none"``, ``"whole"`` (one gzip stream), or
    ``"members"`` (one gzip member per record, the Common Crawl
    layout).

    Examples
    --------
        >>> df = spark.createDataFrame([(4,)], "doc_id long")
        >>> out = warc_records(make_warc_payload(df))
        >>> [r["rec_type"] for r in out.orderBy("rec_idx").collect()]
        ['warcinfo', 'response', 'response']
    """
    import gzip as _gzip

    if gzip_mode not in ("none", "whole", "members"):
        raise ValueError(f"unknown gzip_mode: {gzip_mode}")

    def _record(rtype: str, uri: str | None, body: bytes) -> bytes:
        head = [b"WARC/1.0", b"WARC-Type: " + rtype.encode()]
        if uri is not None:
            head.append(b"WARC-Target-URI: " + uri.encode())
        head.append(b"WARC-Date: 2024-01-01T00:00:00Z")
        head.append(b"Content-Length: %d" % len(body))
        return b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"

    def build(i: int) -> bytes:
        recs = [_record("warcinfo", None, b"software: flycatcher")]
        for j in range(1 + i % 3):
            body = (f"body {i} {j} " + "x" * (i % 7)).encode()
            recs.append(
                _record("response", f"http://example.com/{i}/{j}", body)
            )
        if gzip_mode == "none":
            return b"".join(recs)
        if gzip_mode == "whole":
            return _gzip.compress(b"".join(recs), mtime=0)
        return b"".join(_gzip.compress(r, mtime=0) for r in recs)

    return build_payloads(df, build, id_col, payload_col)


def make_http_warc_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic WARC archive per row whose ``response``
    records carry REAL HTTP messages (fixture/oracle generator, r9):
    three records per doc, one per wire shape —

    - rec 0: identity transfer, ``text/html; charset=utf-8``, status
      200 — payload ``"Doc {id} rec 0 n {(id*11)%89} é"`` (the é
      exercises utf-8 decode);
    - rec 1: ``Transfer-Encoding: chunked`` (first chunk carries a
      chunk extension, a trailer field follows the 0-chunk),
      ``charset=latin-1``, status 301 with a Location header —
      payload ``"Doc {id} rec 1 n {(id*11+1)%89} é"`` in latin-1;
    - rec 2: chunked AND ``Content-Encoding: gzip`` (the Common
      Crawl double: de-chunk, then gunzip), charset defaulted (HTTP's
      ISO-8859-1), status 404 — ASCII payload
      ``"Doc {id} rec 2 n {(id*11+2)%89}"``.

    Every status/charset/payload is closed-form, so DuckDB states the
    decoded table outright while :func:`parse_http_response`
    genuinely de-chunks and gunzips its way there."""
    import gzip as _gzip

    def _record(uri: str, body: bytes) -> bytes:
        head = [
            b"WARC/1.0",
            b"WARC-Type: response",
            b"WARC-Target-URI: " + uri.encode(),
            b"WARC-Date: 2024-01-01T00:00:00Z",
            b"Content-Length: %d" % len(body),
        ]
        return b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"

    def _chunk(payload: bytes) -> bytes:
        cut = min(5, len(payload))
        first, rest = payload[:cut], payload[cut:]
        out = b"%x;ext=1\r\n" % len(first) + first + b"\r\n"
        if rest:
            out += b"%x\r\n" % len(rest) + rest + b"\r\n"
        return out + b"0\r\nX-Trailer: t\r\n\r\n"

    def build(i: int) -> bytes:
        recs = []
        p0 = f"Doc {i} rec 0 n {(i * 11) % 89} é".encode("utf-8")
        recs.append(
            _record(
                f"http://example.com/{i}/0",
                b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=utf-8\r\n"
                b"Content-Length: %d\r\n\r\n" % len(p0) + p0,
            )
        )
        p1 = f"Doc {i} rec 1 n {(i * 11 + 1) % 89} é".encode(
            "latin-1"
        )
        recs.append(
            _record(
                f"http://example.com/{i}/1",
                b"HTTP/1.1 301 Moved Permanently\r\n"
                b"Location: http://example.com/new\r\n"
                b"Content-Type: text/html; charset=latin-1\r\n"
                b"Transfer-Encoding: chunked\r\n\r\n" + _chunk(p1),
            )
        )
        p2 = f"Doc {i} rec 2 n {(i * 11 + 2) % 89}".encode("ascii")
        recs.append(
            _record(
                f"http://example.com/{i}/2",
                b"HTTP/1.1 404 Not Found\r\n"
                b"Content-Type: text/plain\r\n"
                b"Content-Encoding: gzip\r\n"
                b"Transfer-Encoding: chunked\r\n\r\n"
                + _chunk(_gzip.compress(p2, mtime=0)),
            )
        )
        return b"".join(recs)

    return build_payloads(df, build, id_col, payload_col)
