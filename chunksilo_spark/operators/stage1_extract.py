"""Stage 1: pages -> documents + chunks (+ quarantine).

Distributed form of the reference ingestion hot loop (index.py:1601-1679:
load -> parse -> split -> embed), re-expressed as two mapInPandas passes over
an url-hash-repartitioned pages table. All per-row Python lives inside
Arrow-batched UDFs; the extraction kernel is the byte-identity oracle
function itself (functions/extract.py).

Scale notes (100 TB / 10^12 rows):
  * ``repartition(F.xxhash64("url"))`` bounds partition skew regardless of
    crawl ordering (one host's pages spread uniformly) — north_star's
    "repartitioning by url-hash to bound shuffle skew";
  * failures never kill the job: undecodable/unparseable rows land in the
    quarantine output with the error message (reference per-file timeout/skip
    semantics, index.py:584-602, ui.py:460-599);
  * documents carry headings/line_offsets as typed array columns (no side
    store, unlike the reference's HeadingStore JSON — SURVEY §1.3).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.chunk import chunk_text
from ..functions.extract import (
    extract_headings,
    extract_text,
    line_offsets,
)

DOCS_SCHEMA = (
    "url string, warc_ts timestamp, lang string, content_md5 string, "
    "text string, "
    "headings array<struct<text string, position long, level int>>, "
    "line_offsets array<long>, n_chars long, ok boolean, error string, "
    # ragged per-source metadata (SURVEY §1.3 <- reference dynamic metadata
    # dict, index.py:68-87): source-attached keys pass through from the
    # pages table's optional ``extras`` column; the engine adds ``host``.
    # Readers are null-safe by construction: element_at() on a missing key
    # is null, so heterogeneous sources need no schema migration.
    "extras map<string,string>"
)

CHUNKS_SCHEMA = (
    "url string, lang string, chunk_id int, text string, "
    "char_start long, char_end long, n_tokens int"
)


from ..config import get as _cfg_get

# poison-row guard: the reference kills hung/oversized files with a per-file
# timeout (index.py:584-602, 300 s/file via cfgload.py:76-79); the Spark
# analogs are BOTH of:
#   * oversized payloads quarantined BEFORE parsing (bounded work per row);
#   * a per-row wall-clock deadline (SIGALRM itimer) so a NON-throwing hang
#     (pathological markup driving the pure-Python parser loop superlinear)
#     lands the row in quarantine instead of wedging an executor core.
MAX_HTML_BYTES = int(_cfg_get("extract.max_html_bytes", 10_000_000))
ROW_TIMEOUT_S = float(_cfg_get("extract.row_timeout_s", 300.0))


class _RowTimeout(Exception):
    pass


def _row_deadline(seconds: float):
    """Context manager arming a per-row wall-clock alarm. No-op where
    SIGALRM can't be used (non-main thread / non-POSIX): the oversized-page
    guard still bounds the common case there."""
    import contextlib
    import signal
    import threading

    @contextlib.contextmanager
    def cm():
        usable = (
            seconds > 0
            and hasattr(signal, "SIGALRM")
            and threading.current_thread() is threading.main_thread()
        )
        if not usable:
            yield
            return

        def on_alarm(signum, frame):
            raise _RowTimeout(f"row exceeded {seconds}s wall clock")

        old = signal.signal(signal.SIGALRM, on_alarm)
        signal.setitimer(signal.ITIMER_REAL, seconds)
        try:
            yield
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0.0)
            signal.signal(signal.SIGALRM, old)

    return cm()


def decode_page(
    raw: bytes,
    max_html_bytes: int = MAX_HTML_BYTES,
    row_timeout_s: float = ROW_TIMEOUT_S,
    decoder=None,
    derive=None,
):
    """One page's bytes -> ``(text, derive(text), None)``, or
    ``("", None, error)`` for a page that quarantines.

    The single page decoder of every dataflow (staged extract, fused pass):
    size cap, then under one per-row deadline format routing and the strict
    UTF-8 decode into ``extract_text`` — plus ``derive``, so work on the
    text (headings, line offsets) shares the same deadline. Binary document
    formats go to ``decoder`` (a resolved binary decoder, see
    functions/docformats.py); with none they quarantine (convert-or-skip,
    never kill the job)."""
    from ..functions.docformats import detect_format

    try:
        if len(raw) > max_html_bytes:
            raise ValueError(
                f"html too large: {len(raw)} > {max_html_bytes} bytes"
            )
        with _row_deadline(row_timeout_s):
            fmt = detect_format(raw)
            if fmt == "html":
                text = extract_text(raw.decode("utf-8", errors="strict"))
            elif decoder is not None:
                text = decoder.decode(fmt, raw)
            else:
                raise ValueError(f"unsupported format: {fmt}")
            return text, (derive(text) if derive else None), None
    except _RowTimeout:  # hung row -> quarantine, batch continues
        return "", None, f"timeout: row exceeded {row_timeout_s}s"
    except Exception as e:  # quarantine, never fail the task
        return "", None, f"{type(e).__name__}: {e}"


def _layout(text: str):
    heads = [(h["text"], h["position"], h["level"]) for h in extract_headings(text)]
    return heads, line_offsets(text)


def _extract_batch(
    batches: Iterator[pd.DataFrame],
    max_html_bytes: int = MAX_HTML_BYTES,
    row_timeout_s: float = ROW_TIMEOUT_S,
    binary_decoder=None,
) -> Iterator[pd.DataFrame]:
    import hashlib

    decoder = binary_decoder.resolve() if binary_decoder is not None else None

    from urllib.parse import urlparse

    for pdf in batches:
        out = {k: [] for k in (
            "url", "warc_ts", "lang", "content_md5", "text", "headings",
            "line_offsets", "n_chars", "ok", "error", "extras",
        )}
        in_extras = (
            pdf["extras"] if "extras" in pdf.columns else [None] * len(pdf)
        )
        for url, ts, html, lang, page_extras in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"], in_extras
        ):
            raw = bytes(html)
            text, layout, err = decode_page(
                raw, max_html_bytes, row_timeout_s, decoder, _layout
            )
            heads, offs = layout if err is None else ([], [])
            out["url"].append(url)
            out["warc_ts"].append(ts)
            out["lang"].append(lang)
            # raw-bytes digest == F.md5(html): the change-detection ledger key
            # (reference index.py:827-833), stored so later snapshots diff
            # against the documents table itself
            out["content_md5"].append(hashlib.md5(raw).hexdigest())
            out["text"].append(text)
            out["headings"].append(heads)
            out["line_offsets"].append(offs)
            out["n_chars"].append(len(text))
            out["ok"].append(err is None)
            out["error"].append(err)
            # source keys first, engine-derived keys layered on top
            extras = dict(page_extras) if page_extras is not None else {}
            host = urlparse(url).netloc
            if host:
                extras["host"] = host
            out["extras"].append(extras)
        yield pd.DataFrame(out)


def extract_documents(
    pages: DataFrame,
    partitions: int | None = None,
    max_html_bytes: int = MAX_HTML_BYTES,
    row_timeout_s: float = ROW_TIMEOUT_S,
    binary_decoder=None,
) -> DataFrame:
    """pages -> documents (text filled, headings/offsets typed, ok/error).

    ``binary_decoder`` is an optional ``models.ModelSpec`` whose resolved
    object decodes non-HTML formats (``decode(fmt, raw) -> str``, see
    functions/docformats.py); constructed once per worker like the
    embedder. Without one, pdf/docx pages quarantine."""
    df = pages
    if partitions:
        df = df.repartition(partitions, F.xxhash64("url"))
    else:
        df = df.repartition(F.xxhash64("url"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _extract_batch(
            batches, max_html_bytes, row_timeout_s, binary_decoder
        )

    return df.mapInPandas(run, schema=DOCS_SCHEMA)


def quarantine(documents: DataFrame) -> DataFrame:
    """Rows that failed extraction (poison-row path)."""
    return documents.where(~F.col("ok")).select("url", "warc_ts", "lang", "error")


def _chunk_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = {k: [] for k in (
            "url", "lang", "chunk_id", "text", "char_start", "char_end", "n_tokens",
        )}
        for url, lang, text in zip(pdf["url"], pdf["lang"], pdf["text"]):
            for cid, ctext, cs, ce in chunk_text(text):
                rows["url"].append(url)
                rows["lang"].append(lang)
                rows["chunk_id"].append(cid)
                rows["text"].append(ctext)
                rows["char_start"].append(cs)
                rows["char_end"].append(ce)
                rows["n_tokens"].append(len(ctext.split()))
        yield pd.DataFrame(rows)


def chunk_documents(documents: DataFrame) -> DataFrame:
    """documents -> sentence-window chunks (1->N mapInPandas explode)."""
    return (
        documents.where(F.col("ok"))
        .select("url", "lang", "text")
        .mapInPandas(_chunk_batch, schema=CHUNKS_SCHEMA)
    )
