"""Text extraction sources: PDF and HTML → string columns.

The reference shells out to poppler (``pdf_text``, legiscan_main.R:84-87)
and libxml2 (``read_html |> xml_text``, legiscan_main.R:212). Here both
are Arrow-batched pandas UDFs over the ``binaryFile`` source — bytes stay
on executors, extraction parallelizes per file, and downstream is plain
DataFrame ops (split/explode/rlike).

Decoders available in this container:
- HTML: stdlib ``html.parser`` (real extraction, entity-aware), plus a
  pure-expression regex fallback (``strip_html_expr``) for when even a
  pandas UDF is unwanted.
- PDF: ``pypdf`` when importable; otherwise a minimal built-in extractor
  for standard uncompressed-or-Flate text streams (zlib + Tj/TJ operator
  scan) — sufficient for simple text PDFs and the test fixtures, clearly
  the fallback path.

Bad input fails loudly and names its file (ROADMAP item 3): a PDF that
yields no text at all (only whitespace, e.g. a scanned page) fails
``read_pdf_lines`` instead of reading as one empty line, and a file that
is not valid UTF-8 fails ``read_html_docs``. ``pdf_to_text`` itself
returns an empty string for such a PDF.
"""

from __future__ import annotations

import io
import os
import re
import zlib
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # optional, not in this container — fallback below
    import pypdf  # type: ignore
except ImportError:
    pypdf = None


# ---------------------------------------------------------------------------
# HTML
# ---------------------------------------------------------------------------

class _TextExtractor(HTMLParser):
    """Collects text nodes like xml2::xml_text (markup stripped,
    character references resolved)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in ("script", "style"):
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in ("script", "style") and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data):
        if not self._skip_depth:
            self.parts.append(data)


def html_to_text(html: str) -> str:
    """One document: markup stripped to its text content."""
    p = _TextExtractor()
    p.feed(html or "")
    return "".join(p.parts)


def strip_html_expr(col: Column | str) -> Column:
    """Expression-only approximation (SURVEY §2.1): tag strip by regex.
    Stays in whole-stage codegen; loses entity decoding."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "<[^>]+>", "")


def with_html_text(df: DataFrame, html_col: str, out_col: str = "text") -> DataFrame:
    """Arrow-batched HTML extraction column (pandas UDF, not per-row SQL UDF)."""

    @F.pandas_udf("string")
    def _extract(s: pd.Series) -> pd.Series:
        return s.map(html_to_text)

    return df.withColumn(out_col, _extract(F.col(html_col)))


_GLOB = re.compile(r"[*?\[{]")


def _binary_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """``binaryFile`` load of ``path_glob``. When only the last path
    component holds a glob (``<dir>/*.pdf``) and ``<dir>`` is a local
    directory without subdirectories, the directory is loaded with
    ``pathGlobFilter`` instead: for a glob path Spark's FileStreamSink
    metadata probe fails and logs a WARN with a ``FileNotFoundException``
    trace per load, for a directory it does not. Both list the same
    files. A subdirectory would change that: a directory load reads a
    ``key=value`` one as a partition (``d/x=1/a.pdf``) and then drops
    the files beside it."""
    parent, _, name = path_glob.rpartition("/")
    reader = spark.read.format("binaryFile")
    if (
        parent
        and _GLOB.search(name)
        and not _GLOB.search(parent)
        and _is_flat_dir(parent)
    ):
        return reader.option("pathGlobFilter", name).load(parent)
    return reader.load(path_glob)


def _is_flat_dir(path: str) -> bool:
    try:
        with os.scandir(path) as entries:
            return not any(e.is_dir() for e in entries)
    except OSError:  # not a local directory
        return False


def read_html_docs(spark: SparkSession, path_glob: str) -> DataFrame:
    """binaryFile scan + extraction → (path, text); a file that is not
    valid UTF-8 raises an error naming it."""
    raw = _binary_files(spark, path_glob)
    decoded = raw.select(
        F.col("path"),
        F.when(F.is_valid_utf8("content"), F.decode("content", "utf-8"))
        .otherwise(F.raise_error(F.concat(F.col("path"), F.lit(": not valid UTF-8"))))
        .alias("html"),
    )
    return with_html_text(decoded, "html").select("path", "text")


# ---------------------------------------------------------------------------
# PDF
# ---------------------------------------------------------------------------

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
_TEXT_OP_RE = re.compile(rb"\(((?:\\.|[^()\\])*)\)\s*Tj|\[(.*?)\]\s*TJ", re.DOTALL)
_TJ_STR_RE = re.compile(rb"\(((?:\\.|[^()\\])*)\)")
_ESCAPES = {b"\\n": b"\n", b"\\r": b"\r", b"\\t": b"\t", b"\\(": b"(",
            b"\\)": b")", b"\\\\": b"\\"}


def _unescape_pdf_string(s: bytes) -> bytes:
    for k, v in _ESCAPES.items():
        s = s.replace(k, v)
    return s


def _fallback_pdf_text(payload: bytes) -> str:
    """Minimal text extraction for standard simple PDFs: decompress Flate
    content streams, scan Tj/TJ show-text operators. The fallback when
    pypdf is unavailable — handles the common single-byte-encoded case,
    not CID fonts."""
    chunks: list[bytes] = []
    for m in _STREAM_RE.finditer(payload):
        data = m.group(1)
        try:
            data = zlib.decompress(data)
        except zlib.error:
            pass  # already uncompressed
        for tj, tj_arr in _TEXT_OP_RE.findall(data):
            if tj:
                chunks.append(_unescape_pdf_string(tj))
            elif tj_arr:
                chunks.append(
                    b"".join(
                        _unescape_pdf_string(s) for s in _TJ_STR_RE.findall(tj_arr)
                    )
                )
            chunks.append(b"\n")
    return b"".join(chunks).decode("latin-1", errors="replace")


def make_simple_pdf(lines: list[str]) -> bytes:
    """Minimal single-page uncompressed-text PDF (one Tj per line).

    Fixture builder for tests and the q_pdf_text_source self-check — a
    standard PDF skeleton (catalog → pages → page → content stream) with
    one show-text operator per line, parseable by any reader including
    the fallback extractor above.
    """
    content = b"BT /F1 12 Tf 72 720 Td " + b" ".join(
        b"(" + ln.encode("latin-1") + b") Tj 0 -14 Td" for ln in lines
    ) + b" ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ]
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, 1):
        offsets.append(out.tell())
        out.write(f"{i} 0 obj\n".encode() + obj + b"\nendobj\n")
    xref = out.tell()
    out.write(f"xref\n0 {len(objs)+1}\n0000000000 65535 f \n".encode())
    for off in offsets:
        out.write(f"{off:010d} 00000 n \n".encode())
    out.write(
        f"trailer\n<< /Size {len(objs)+1} /Root 1 0 R >>\nstartxref\n{xref}\n%%EOF".encode()
    )
    return out.getvalue()


def pdf_to_text(payload: bytes) -> str:
    """Whole-document text: pypdf when present, built-in fallback otherwise."""
    if pypdf is not None:
        reader = pypdf.PdfReader(io.BytesIO(payload))
        return "\n".join(page.extract_text() or "" for page in reader.pages)
    return _fallback_pdf_text(payload)


def read_pdf_lines(spark: SparkSession, path_glob: str) -> DataFrame:
    """binaryFile scan → extraction → line explode: (path, line), leading
    spaces stripped — pdf_text |> strsplit('\\n') |> gsub('^ +','',...)
    (legiscan_main.R:84-87) as one mapInPandas + explode. A PDF that
    yields no text raises an error naming it."""

    def to_text(path: str, payload) -> str:
        text = pdf_to_text(bytes(payload))
        if not text.strip():
            raise ValueError(f"{path}: the PDF yields no text")
        return text

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "text": [to_text(path, p) for path, p in zip(pdf["path"], pdf["content"])],
                }
            )

    raw = _binary_files(spark, path_glob).select("path", "content")
    docs = raw.mapInPandas(extract, "path string, text string")
    return docs.select(
        "path", F.explode(F.split(F.col("text"), "\n")).alias("line")
    ).select("path", F.ltrim(F.col("line")).alias("line"))
