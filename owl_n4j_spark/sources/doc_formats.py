"""Document-format ingestion (SURVEY S4 proper).

The reference routes pdf/docx/xlsx/html/md/... through per-format handlers
that converge on one document shape (/root/reference/ingestion/scripts/
ingest_data.py:23-30 dispatch). Spark-first analog:

- ``binaryFile`` source: one task per file batch, no shuffle — ingestion is
  a pure map from (path, content) to the documents contract
  (doc_id, text, lang, source, n_chars).
- Per-format extractors run inside ONE Arrow ``mapInPandas`` stage that
  dispatches on extension per row — adding a format is adding a function to
  the dispatch table, not a new pipeline.
- html/md/docx/xlsx/pdf/txt extract with deterministic stdlib parsing:
  html strips boilerplate via the <p>-blocks main-content rule, docx reads
  word/document.xml runs (Title-styled paragraphs dropped — the docx analog
  of html's <h1>) + docProps/core.xml metadata, xlsx reads sheet1's
  inline-string cells (zip + ElementTree, no external libs), pdf walks
  FlateDecode content streams reading Tf/Tj text operators (zlib +
  regex — the digital-born subset of the reference's pdf_ingestion;
  heading-sized text dropped by the same font-size heuristic real pdf
  extractors use), txt is the body verbatim. An image-only pdf (no text
  operators) raises NoTextLayer and the dispatch QUARANTINES it (counted
  per-format in the ingest manifest) — mirroring the reference's
  skip-and-log rather than fail-the-ingest.

The generator renders the driver ``documents`` table to one file per doc
(format by doc_id % 5: html/md/docx/xlsx/pdf), so extraction has an exact
oracle: parse(generate(docs)) must equal the documents table itself.
"""

from __future__ import annotations

import io
import os
import re
import sys
import zipfile
from html import escape
from html.parser import HTMLParser
from xml.sax.saxutils import escape as xml_escape

from pyspark.sql import DataFrame, SparkSession

DOC_SCHEMA = ("doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")

_W_NS = ("http://schemas.openxmlformats.org/wordprocessingml/2006/main")
_S_NS = ("http://schemas.openxmlformats.org/spreadsheetml/2006/main")
_CP_NS = ("http://schemas.openxmlformats.org/package/2006/metadata/"
          "core-properties")
_DC_NS = "http://purl.org/dc/elements/1.1/"

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types"><Default Extension="xml" ContentType="application/xml"/>'
    '</Types>\n')


def _zip_bytes(entries: list[tuple[str, str]]) -> bytes:
    """Deterministic OOXML container: pinned 1980 timestamps, stored order
    = given order (the FIRST entry's name is the content-magic a scanner
    can sniff at a fixed header offset)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries:
            z.writestr(zipfile.ZipInfo(name), data)
    return buf.getvalue()


def _render_docx(row) -> bytes:
    body = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f'<w:document xmlns:w="{_W_NS}"><w:body>'
        # Title-styled heading = boilerplate the extractor must drop
        '<w:p><w:pPr><w:pStyle w:val="Title"/></w:pPr>'
        f'<w:r><w:t>Document {row.doc_id}</w:t></w:r></w:p>'
        '<w:p><w:r><w:t xml:space="preserve">'
        f'{xml_escape(row.text)}</w:t></w:r></w:p>'
        '<w:sectPr/></w:body></w:document>')
    core = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f'<cp:coreProperties xmlns:cp="{_CP_NS}" xmlns:dc="{_DC_NS}">'
        f'<dc:language>{xml_escape(row.lang)}</dc:language>'
        f'<dc:subject>{xml_escape(row.source)}</dc:subject>'
        '</cp:coreProperties>')
    return _zip_bytes([("word/document.xml", body),
                       ("docProps/core.xml", core),
                       ("[Content_Types].xml", _CONTENT_TYPES)])


def _render_xlsx(row) -> bytes:
    def cell(ref, text):
        return (f'<c r="{ref}" t="inlineStr"><is>'
                f'<t xml:space="preserve">{xml_escape(text)}</t></is></c>')

    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f'<workbook xmlns="{_S_NS}"><sheets>'
        '<sheet name="doc" sheetId="1"/></sheets></workbook>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f'<worksheet xmlns="{_S_NS}"><sheetData>'
        f'<row r="1">{cell("A1", "lang")}{cell("B1", row.lang)}</row>'
        f'<row r="2">{cell("A2", "source")}{cell("B2", row.source)}</row>'
        f'<row r="3">{cell("A3", "text")}{cell("B3", row.text)}</row>'
        '</sheetData></worksheet>')
    return _zip_bytes([("xl/workbook.xml", wb),
                       ("xl/worksheets/sheet1.xml", sheet),
                       ("[Content_Types].xml", _CONTENT_TYPES)])


def write_doc_files(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """documents table -> one file per document, format by doc_id % 5
    (0 .html / 1 .md / 2 .docx / 3 .xlsx / 4 .pdf), each with boilerplate
    or container structure the extractor must handle. Also drops two
    decoys the dispatch must route WITHOUT crashing the ingest: an
    image-only .pdf with no text layer (-> quarantined) and an unknown
    extension (-> quarantined)."""
    import pandas as pd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    os.makedirs(out_dir, exist_ok=True)

    # One file per doc, rendered row-locally — distributed map instead of
    # a serial driver loop (the docx/xlsx legs pay a zip-deflate per doc,
    # which parallelizes; bytes are deterministic — pinned zip timestamps
    # — so task placement cannot change any file's content).
    def write_batch(batches):
        n = 0
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                _write_doc_file(row, out_dir)
                n += 1
        yield pd.DataFrame({"n": [n]})

    from pyspark.sql import functions as F
    (docs.repartition(spark.sparkContext.defaultParallelism * 2)
     .mapInPandas(write_batch, "n long")
     .agg(F.sum("n")).collect())
    with open(os.path.join(out_dir, "scan_0001.pdf"), "wb") as f:
        f.write(b"%PDF-1.4\n% decoy scanned report, no text layer\n")
    with open(os.path.join(out_dir, "notes.xyz"), "wb") as f:
        f.write(b"unknown-format sidecar\n")
    return out_dir


def _write_doc_file(row, out_dir: str) -> None:
    fmt = row.doc_id % 5
    if fmt == 0:
        body = (
            '<!DOCTYPE html>\n'
            f'<html lang="{row.lang}">\n<head>\n'
            f'<title>doc {row.doc_id}</title>\n'
            f'<meta name="source" content="{escape(row.source)}"/>\n'
            '</head>\n<body>\n'
            '<nav><a href="/">home</a> | <a href="/about">about</a></nav>\n'
            f'<h1>Document {row.doc_id}</h1>\n'
            f'<p>{escape(row.text)}</p>\n'
            '<footer>generated page footer</footer>\n'
            '</body>\n</html>\n').encode()
        name = f"doc_{row.doc_id:08d}.html"
    elif fmt == 1:
        body = (
            '---\n'
            f'lang: {row.lang}\n'
            f'source: {row.source}\n'
            '---\n'
            f'# Document {row.doc_id}\n'
            '\n'
            f'{row.text}\n').encode()
        name = f"doc_{row.doc_id:08d}.md"
    elif fmt == 2:
        body = _render_docx(row)
        name = f"doc_{row.doc_id:08d}.docx"
    elif fmt == 3:
        body = _render_xlsx(row)
        name = f"doc_{row.doc_id:08d}.xlsx"
    else:
        body = _render_pdf(row)
        name = f"doc_{row.doc_id:08d}.pdf"
    with open(os.path.join(out_dir, name), "wb") as f:
        f.write(body)


class _MainText(HTMLParser):
    """Collect text inside <p> blocks; record html@lang and
    meta[name=source]@content. Everything else (nav/h1/footer/script) is
    boilerplate and dropped."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.paras: list[str] = []
        self.lang = None
        self.source = None
        self._in_p = 0
        self._buf: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "html":
            self.lang = a.get("lang")
        elif tag == "meta" and a.get("name") == "source":
            self.source = a.get("content")
        elif tag == "p":
            self._in_p += 1

    def handle_endtag(self, tag):
        if tag == "p" and self._in_p:
            self._in_p -= 1
            if not self._in_p:
                self.paras.append("".join(self._buf))
                self._buf = []

    def handle_data(self, data):
        if self._in_p:
            self._buf.append(data)


def _extract_html(name: str, raw: bytes) -> tuple:
    p = _MainText()
    p.feed(raw.decode("utf-8"))
    return ("\n".join(p.paras), p.lang, p.source)


_MD_FRONT = re.compile(r"\A---\n(.*?)\n---\n", re.S)


def _extract_md(name: str, raw: bytes) -> tuple:
    lang = source = None
    raw = raw.decode("utf-8")
    m = _MD_FRONT.match(raw)
    body = raw
    if m:
        for line in m.group(1).splitlines():
            k, _, v = line.partition(":")
            if k.strip() == "lang":
                lang = v.strip()
            elif k.strip() == "source":
                source = v.strip()
        body = raw[m.end():]
    # body = everything after the first '# ' heading's following blank
    # line, verbatim (content may itself contain '#' lines)
    lines = body.split("\n")
    start = 0
    for i, ln in enumerate(lines):
        if ln.startswith("# "):
            start = i + 1
            while start < len(lines) and lines[start] == "":
                start += 1
            break
    text = "\n".join(lines[start:])
    return (text.rstrip("\n"), lang, source)


def _extract_docx(name: str, raw: bytes) -> tuple:
    """docx = zip of WordprocessingML (reference ingest_data.py:23-30
    routes .docx through python-docx; the stdlib equivalent reads the same
    two parts). Text = the non-Title paragraphs of word/document.xml, runs
    concatenated per paragraph, paragraphs joined by newline; lang/source
    from docProps/core.xml (dc:language / dc:subject)."""
    import xml.etree.ElementTree as ET

    with zipfile.ZipFile(io.BytesIO(raw)) as z:
        doc = ET.fromstring(z.read("word/document.xml"))
        try:
            core = ET.fromstring(z.read("docProps/core.xml"))
        except KeyError:
            core = None
    paras = []
    for p in doc.iter(f"{{{_W_NS}}}p"):
        style = p.find(f"{{{_W_NS}}}pPr/{{{_W_NS}}}pStyle")
        if style is not None and style.get(f"{{{_W_NS}}}val") == "Title":
            continue          # heading boilerplate, like html's <h1>
        paras.append("".join(t.text or ""
                             for t in p.iter(f"{{{_W_NS}}}t")))
    lang = source = None
    if core is not None:
        el = core.find(f"{{{_DC_NS}}}language")
        lang = el.text if el is not None else None
        el = core.find(f"{{{_DC_NS}}}subject")
        source = el.text if el is not None else None
    return ("\n".join(paras), lang, source)


def _extract_xlsx(name: str, raw: bytes) -> tuple:
    """xlsx = zip of SpreadsheetML; the metadata-sheet convention is
    key/value rows (A=key, B=value) with inline strings. Shared-string
    tables are resolved when present so real-world workbooks parse too."""
    import xml.etree.ElementTree as ET

    with zipfile.ZipFile(io.BytesIO(raw)) as z:
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        shared = []
        try:
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or ""
                              for t in si.iter(f"{{{_S_NS}}}t"))
                      for si in sst.iter(f"{{{_S_NS}}}si")]
        except KeyError:
            pass

    def cell_text(c) -> str:
        if c.get("t") == "inlineStr":
            return "".join(t.text or "" for t in c.iter(f"{{{_S_NS}}}t"))
        v = c.find(f"{{{_S_NS}}}v")
        if v is None:
            return ""
        if c.get("t") == "s":
            return shared[int(v.text)]
        return v.text or ""

    kv = {}
    for row in sheet.iter(f"{{{_S_NS}}}row"):
        cells = list(row.iter(f"{{{_S_NS}}}c"))
        if len(cells) >= 2:
            kv[cell_text(cells[0])] = cell_text(cells[1])
    return (kv.get("text", ""), kv.get("lang"), kv.get("source"))


class NoTextLayer(Exception):
    """A parseable file with no extractable text (e.g. an image-only
    scanned PDF). The dispatch QUARANTINES these — the reference's OCR-less
    reality for scans — rather than emitting an empty document."""


def _render_pdf(row) -> bytes:
    """Minimal well-formed single-page PDF: FlateDecode content stream with
    Tf/Tj text operators, Info dict carrying source (/Subject) and lang
    (/Keywords), correct xref. The 14-pt title line is heading boilerplate
    the extractor must drop (the pdf analog of html's <h1>)."""
    import zlib

    def esc(s: str) -> str:
        return (s.replace("\\", "\\\\").replace("(", "\\(")
                 .replace(")", "\\)"))

    content = (
        f"BT /F1 14 Tf 72 740 Td (Document {row.doc_id}) Tj ET\n"
        f"BT /F1 10 Tf 72 700 Td ({esc(row.text)}) Tj ET\n").encode()
    stream = zlib.compress(content)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(stream)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        (f"<< /Subject ({esc(row.source)}) /Keywords ({esc(row.lang)}) >>"
         ).encode(),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj ".encode() + body + b" endobj\n"
    xref = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer << /Size " + str(len(objs) + 1).encode()
            + b" /Root 1 0 R /Info 6 0 R >>\nstartxref\n"
            + str(xref).encode() + b"\n%%EOF\n")
    return bytes(out)


_PDF_STREAM_HDR = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_PDF_LENGTH = re.compile(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)")


def _pdf_streams(raw: bytes):
    """Yield (dict_head, payload) per content stream. The payload size
    comes from the dict's /Length entry (the PDF spec's contract) —
    scanning for the 'endstream' keyword instead silently truncates any
    compressed payload whose last byte happens to be \\r (the EOL regex
    eats it; ~1/256 of FlateDecode streams), which is exactly how three
    sf0.1 fixture PDFs lost their text layer. An indirect /Length
    ('4 0 R') falls back to the keyword scan."""
    for sm in _PDF_STREAM_HDR.finditer(raw):
        head, start = sm.group(1), sm.end()
        lm = _PDF_LENGTH.search(head)
        if lm:
            yield head, raw[start:start + int(lm.group(1))]
            continue
        end = raw.find(b"endstream", start)
        if end == -1:
            continue
        data = raw[start:end]
        if data.endswith(b"\r\n"):
            data = data[:-2]
        elif data.endswith((b"\n", b"\r")):
            data = data[:-1]
        yield head, data
# DOTALL so the escaped-pair atom \\. can match a backslash-LF line
# continuation inside a string literal — without it, "(split\<LF>line) Tj"
# matches nothing and the whole string silently drops from the text layer.
# The only bare . is inside \\. ; the [0-9.] class is unaffected.
_PDF_TOK = re.compile(rb"([0-9.]+)\s+Tf|\(((?:\\.|[^()\\])*)\)\s*Tj",
                      re.DOTALL)
_PDF_ESCAPES = {ord("n"): 10, ord("r"): 13, ord("t"): 9,
                ord("("): 40, ord(")"): 41, ord("\\"): 92}


def _pdf_unescape(b: bytes) -> str:
    out = bytearray()
    i, n = 0, len(b)
    while i < n:
        c = b[i]
        if c == 0x5C and i + 1 < n:           # backslash escape
            nxt = b[i + 1]
            if 0x30 <= nxt <= 0x37:           # \ddd octal, 1-3 digits —
                j = i + 1                     # how non-ASCII bytes appear
                while j < min(i + 4, n) and 0x30 <= b[j] <= 0x37:
                    j += 1                    # in non-Unicode PDF strings
                out.append(int(b[i + 1:j], 8) & 0xFF)
                i = j
            elif nxt in (0x0A, 0x0D):         # line continuation: \<eol>
                i += 2                        # joins the split string
                if nxt == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:
                out.append(_PDF_ESCAPES.get(nxt, nxt))
                i += 2
        else:
            out.append(c)
            i += 1
    return out.decode("utf-8", errors="replace")


def _extract_pdf(name: str, raw: bytes) -> tuple:
    """Stdlib PDF text extraction for the common uncompressed/FlateDecode
    text-operator case (the reference routes .pdf through pdf_ingestion;
    this covers its digital-born subset): walk every content stream,
    inflate when /FlateDecode, read Tf (font size) / Tj (show string)
    operators in order, drop heading-sized text (>12pt — the font-size
    heuristic pdf extractors use for structure), unescape PDF strings.
    lang/source come from the Info dict. A PDF with NO text operators
    (image-only scan) raises NoTextLayer -> quarantined, never an empty
    document."""
    import zlib

    m = re.search(rb"/Keywords \(((?:\\.|[^()\\])*)\)", raw)
    lang = _pdf_unescape(m.group(1)) if m else None
    m = re.search(rb"/Subject \(((?:\\.|[^()\\])*)\)", raw)
    source = _pdf_unescape(m.group(1)) if m else None
    paras: list[str] = []
    for head, data in _pdf_streams(raw):
        if b"/FlateDecode" in head:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        size = 0.0
        for tok in _PDF_TOK.finditer(data):
            if tok.group(1) is not None:
                size = float(tok.group(1))
            elif size <= 12:
                paras.append(_pdf_unescape(tok.group(2)))
    if not paras:
        raise NoTextLayer(name)
    return ("\n".join(paras), lang, source)


def _extract_txt(name: str, raw: bytes) -> tuple:
    """Plain text carries no metadata side-channel (reference
    text_ingestion): the whole file is the document body."""
    text = raw.decode("utf-8").rstrip("\n")
    return (text, None, None)


_DISPATCH = {
    ".html": _extract_html,
    ".htm": _extract_html,
    ".md": _extract_md,
    ".docx": _extract_docx,
    ".xlsx": _extract_xlsx,
    ".pdf": _extract_pdf,
    ".txt": _extract_txt,
}

_DOC_ID = re.compile(r"doc_(\d+)\.")


def read_documents_dir(spark: SparkSession, doc_dir: str,
                       with_status: bool = False) -> DataFrame:
    """Directory of per-document files -> documents contract.

    binaryFile scan (path+content only), then one Arrow mapInPandas whose
    rows route through the per-extension extractor table. doc_id comes from
    the filename (the ingest key the reference also derives from the file);
    n_chars is recomputed from the extracted text.

    A file the extractors cannot handle is QUARANTINED, never a crash:
    unknown extensions, image-only PDFs with no text layer, and any file
    that makes its extractor raise (truncated zip container, malformed
    OOXML, non-UTF8 text, ...) each yield — with ``with_status=True`` — a
    row with (fmt, status ok/no_text_layer/extract_error/unknown_format)
    so the per-format ingest manifest can reconcile files-seen vs
    docs-extracted — the K5 discipline applied to the document path. One
    corrupt evidence file must never abort a 100 TB ingest.

    Packing: binaryFile's 4 MB open-cost makes one task per small file (a
    5000-doc corpus = 5000 tasks of microseconds each), so the scan is
    coalesced — shuffle-free — to 2x the cluster's total cores. The pack
    count follows the CLUSTER, never a fixed constant: a literal 64 would
    cap this CPU-bound Python extraction stage at 64 tasks and idle a
    1000-core cluster."""
    import pandas as pd

    # load the DIRECTORY, not a glob: a glob expands to one load path per
    # matched file and anything past parallelPartitionDiscovery.threshold
    # (32) triggers a distributed listing job with one task per file —
    # measured 5000 tasks / ~9 s of pure listing overhead for a 5000-doc
    # corpus. A single directory path lists driver-side in milliseconds;
    # pathGlobFilter applies the same name filter during that listing.
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.*")
             .load(doc_dir)
             .select("path", "content")
             .coalesce(spark.sparkContext.defaultParallelism * 2))

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    if with_status:
        cols = cols + ["fmt", "status"]

    def parse(batches):
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                base = os.path.basename(path)
                ext = os.path.splitext(base)[1].lower()
                fn = _DISPATCH.get(ext)
                m = _DOC_ID.search(base)
                doc_id = int(m.group(1)) if m else None
                fmt = ext.lstrip(".") or "none"
                if fn is None:
                    if with_status:
                        out.append((doc_id, None, None, None, None,
                                    fmt, "unknown_format"))
                    continue
                try:
                    text, lang, source = fn(base, bytes(content))
                except NoTextLayer:
                    if with_status:
                        out.append((doc_id, None, None, None, None,
                                    fmt, "no_text_layer"))
                    continue
                except Exception as e:
                    # corrupt container / malformed markup / bad encoding:
                    # quarantine THIS file, keep the ingest running
                    print(f"doc_formats: quarantined {base}: "
                          f"{type(e).__name__}: {e}", file=sys.stderr)
                    if with_status:
                        out.append((doc_id, None, None, None, None,
                                    fmt, "extract_error"))
                    continue
                row = (doc_id, text, lang, source,
                       len(text) if text is not None else None)
                out.append(row + ((fmt, "ok") if with_status else ()))
            yield pd.DataFrame(out, columns=cols)

    schema = (DOC_SCHEMA + ", fmt string, status string" if with_status
              else DOC_SCHEMA)
    return files.mapInPandas(parse, schema)
