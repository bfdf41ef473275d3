"""Web ingestion: WARC record parsing + HTML text extraction.

Every production LLM corpus starts from web crawls (Common Crawl ships
WARC, ISO 28500); the pipeline stages this module provides are the entry
point the rest of the text family (language ID, quality, dedup, index)
consumes:

- ``parse_warc_bytes`` — pure-stdlib WARC/1.0/1.1 reader over one file's
  bytes (plain or gzip, incl. the per-record-gzip-member layout Common
  Crawl uses): yields (record_type, target_uri, warc_date, http_status,
  content_type, body bytes).  Distributed form ``warc_records``:
  ``spark.read.format("binaryFile")`` -> one Arrow-batched ``mapInPandas``
  pass, one task per WARC file — the natural 100 TB sharding, since crawl
  archives arrive as ~1 GB file sets and never need a row shuffle to
  parse.
- ``html_to_text`` — stdlib ``html.parser`` extraction: drops
  script/style/noscript/template contents and nav/header/footer/aside
  subtrees (the boilerplate rule of justext/trafilatura-class cleaners,
  reduced to its deterministic tag-level core), unescapes entities,
  normalizes whitespace ([ \\t\\r\\n\\f]+ -> one space, trimmed), captures
  <title>.  Exposed distributed as ``extract_html_text`` (mapInPandas).

Determinism note: both parsers are pure functions of the bytes — no
charset sniffing (payloads decode as UTF-8 with replacement), no
heuristic scoring — so the registry query ``html_extract_roundtrip`` can
hold them to an exact cross-engine oracle.

Reference anchor: the reference engine ingests already-parsed JSON from
Kafka (env/BaseFlink.java) — web ingestion is part of the
training-data-pipeline extension surface, not reference parity.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from html.parser import HTMLParser

WARC_RECORD_SCHEMA = (
    "path string, record_type string, target_uri string, warc_date string, "
    "http_status int, content_type string, body binary"
)

_WS = str.maketrans({"\t": " ", "\r": " ", "\n": " ", "\f": " ", "\v": " "})


def _gunzip_all(data: bytes) -> bytes:
    """Decompress a (possibly multi-member) gzip stream — Common Crawl
    WARCs are one gzip member PER RECORD, concatenated."""
    out = []
    while data:
        d = zlib.decompressobj(wbits=47)  # gzip or zlib header
        out.append(d.decompress(data))
        data = d.unused_data
        if not d.eof:
            raise ValueError("truncated gzip member")
    return b"".join(out)


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Parse one WARC file's bytes into record dicts (pure stdlib).

    Handles WARC/1.0 and 1.1, plain or gzipped; for ``response`` records
    carrying HTTP (``Content-Type: application/http``) the HTTP status
    line and headers are split off so ``body`` is the actual payload.
    Malformed trailing garbage raises — a crawl file is either a valid
    record sequence or corrupt, and silently truncating would undercount
    a corpus."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_all(data)
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(f"expected WARC version line at offset {pos}")
        hdr_end = data.index(b"\r\n\r\n", pos)
        header_lines = data[pos:hdr_end].decode("utf-8", "replace").split("\r\n")
        headers = {}
        for line in header_lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers["content-length"])
        block = data[hdr_end + 4 : hdr_end + 4 + length]
        if len(block) < length:
            # the no-silent-truncation contract, enforced on the plain
            # path too (the gzip path already raises on a short member)
            raise ValueError("truncated WARC record body")
        pos = hdr_end + 4 + length
        status = None
        ctype = headers.get("content-type", "")
        body = block
        if ctype.startswith("application/http") and b"\r\n\r\n" in block:
            http_head, body = block.split(b"\r\n\r\n", 1)
            lines = http_head.decode("utf-8", "replace").split("\r\n")
            parts = lines[0].split(" ", 2)
            if len(parts) >= 2 and parts[1].isdigit():
                status = int(parts[1])
            for line in lines[1:]:
                k, _, v = line.partition(":")
                if k.strip().lower() == "content-type":
                    ctype = v.strip()
        records.append(
            {
                "record_type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "http_status": status,
                "content_type": ctype,
                "body": body,
            }
        )
    return records


def warc_records(files_df):
    """binaryFile DataFrame (path, content) -> one WARC-record row per
    archive record, via one Arrow-batched pass.  No shuffle: record
    extraction is embarrassingly parallel per file."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for path, content in zip(b["path"], b["content"]):
                for r in parse_warc_bytes(bytes(content)):
                    rows.append({"path": path, **r})
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "record_type", "target_uri", "warc_date",
                    "http_status", "content_type", "body",
                ],
            )

    return files_df.select("path", "content").mapInPandas(
        kernel, WARC_RECORD_SCHEMA
    )


_DROP_CONTENT = {"script", "style", "noscript", "template"}
_DROP_SUBTREE = {"nav", "header", "footer", "aside"}
_BLOCK = {
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5",
    "h6", "table", "tr", "td", "th", "section", "article", "blockquote",
    "pre",
}


class _TextExtractor(HTMLParser):
    """Tag-level boilerplate-dropping text extractor (the deterministic
    core of justext/trafilatura-class cleaners): content of
    script/style/... skipped, nav/header/footer/aside subtrees skipped
    wholesale, entities unescaped by HTMLParser, block tags become
    whitespace breaks."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self.title_chunks: list[str] = []
        self.robots = ""
        self.canonical = ""
        self._skip_content = 0
        self._skip_subtree = 0
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag == "meta":
            a = dict(attrs)
            # crawl-compliance signal every curation pipeline must honor
            if (a.get("name") or "").lower() == "robots":
                self.robots = a.get("content") or ""
        if tag == "link":
            a = dict(attrs)
            if (a.get("rel") or "").lower() == "canonical":
                self.canonical = a.get("href") or ""
        if tag in _DROP_CONTENT:
            self._skip_content += 1
        if tag in _DROP_SUBTREE:
            self._skip_subtree += 1
        # a <title> inside dropped boilerplate (an SVG logo's <title> in a
        # <header>, say) must NOT contaminate the page title
        if tag == "title" and not (self._skip_content or self._skip_subtree):
            self._in_title = True
        if tag in _BLOCK:
            self.chunks.append(" ")

    def handle_endtag(self, tag):
        if tag in _DROP_CONTENT and self._skip_content:
            self._skip_content -= 1
        if tag in _DROP_SUBTREE and self._skip_subtree:
            self._skip_subtree -= 1
        if tag == "title":
            self._in_title = False
        if tag in _BLOCK:
            self.chunks.append(" ")

    def handle_data(self, d):
        if self._skip_content or self._skip_subtree:
            return
        if self._in_title:
            self.title_chunks.append(d)
            return
        self.chunks.append(d)


def _norm_ws(s: str) -> str:
    """The ONE whitespace rule shared with the SQL oracle:
    [ \\t\\r\\n\\f\\v]+ -> single space, trimmed.  Implemented as an
    explicit translate + split on space so the normalized alphabet is
    exactly the oracle regex's class (str.split() alone would also fold
    unicode spaces the SQL regex does not)."""
    return " ".join(t for t in s.translate(_WS).split(" ") if t)


def html_to_text(html: str) -> tuple[str, str, str, str]:
    """(title, text, robots, canonical) — title/text entity-unescaped,
    boilerplate dropped, whitespace normalized by the shared rule;
    robots = the <meta name=robots> content (the crawl-compliance signal
    a curation pipeline filters on), canonical = <link rel=canonical>
    href (the dedup key pipelines prefer over the fetch URL)."""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return (
        _norm_ws("".join(p.title_chunks)),
        _norm_ws("".join(p.chunks)),
        p.robots,
        p.canonical,
    )


def extract_html_text(df, html_col: str = "html"):
    """Distributed form: (.., html) -> (.., title, text, robots,
    canonical) via one Arrow-batched pass; upstream columns ride
    through."""
    import pandas as pd

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != html_col
    )
    schema += ", title string, text string, robots string, canonical string"
    keep = [f.name for f in df.schema.fields if f.name != html_col]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # NULL html (failed fetch / non-HTML record — routine in the
            # WARC pipeline this feeds) passes through as NULL fields
            # instead of killing the whole Arrow task
            quads = [
                html_to_text(h) if isinstance(h, str) else (None,) * 4
                for h in b[html_col]
            ]
            out = b[keep].copy()
            out["title"] = [q[0] for q in quads]
            out["text"] = [q[1] for q in quads]
            out["robots"] = [q[2] for q in quads]
            out["canonical"] = [q[3] for q in quads]
            yield out

    return df.mapInPandas(kernel, schema)


WARC_FILE_SCHEMA = "path string, content binary"


def build_warc_files(html_df, file_col: str = "wfile"):
    """The writer twin of ``parse_warc_bytes``: (doc_id, html, file_col)
    -> one synthetic WARC/1.0 file per ``file_col`` group, each document
    a ``response`` record wrapping an HTTP/1.1 200 + text/html payload,
    records in doc_id order (ISO 28500 record framing: version line,
    CRLF headers, Content-Length-delimited block, blank-line separator).
    Fixture/testing surface — production reads real crawl files; this
    builds byte-exact ones so the WARC parser sits INSIDE the pipeline
    under test instead of beside it.  One applyInPandas group per output
    file (a crawl file is the natural work unit)."""
    import pandas as pd

    def assemble(key, pdf):
        pdf = pdf.sort_values("doc_id")
        out = []
        for did, html in zip(pdf["doc_id"], pdf["html"]):
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html.encode("utf-8")
            )
            hdr = (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: https://ex.ample/doc/{did}\r\n"
                "WARC-Date: 2025-01-01T00:00:00Z\r\n"
                "Content-Type: application/http;msgtype=response\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode("utf-8")
            out.append(hdr + http + b"\r\n\r\n")
        return pd.DataFrame(
            {
                "path": [f"warc-{int(key[0]):05d}.warc"],
                "content": [b"".join(out)],
            }
        )

    return html_df.groupBy(file_col).applyInPandas(assemble, WARC_FILE_SCHEMA)
