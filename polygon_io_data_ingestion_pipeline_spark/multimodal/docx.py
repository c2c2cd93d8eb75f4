"""Office document text extraction, pure stdlib — DOCX (OOXML
WordprocessingML), PPTX (PresentationML) and ODT (OpenDocument Text),
the word-processor/slide formats a real crawl carries after HTML and
PDF.  All are ZIP containers of XML, so the whole codec is ``zipfile``
+ ``xml.etree.ElementTree``; no external library.

Surface:

- **DOCX**: ``word/document.xml`` walked in document order — one output
  line per OUTERMOST ``w:p`` paragraph (a paragraph nested inside
  another through a text box contributes its runs to the enclosing
  line, never a second line), ``w:t`` text runs (including
  ``xml:space="preserve"`` whitespace runs), ``w:tab`` as a tab,
  ``w:br``/``w:cr`` as in-paragraph line breaks; table cells extract via
  their own paragraphs.  ``mc:AlternateContent`` descends into the
  FIRST branch only (``mc:Choice``) — Word writes text boxes with a
  ``mc:Fallback`` duplicate of the same text, and walking both would
  emit every boxed string twice.  Namespace handling is by local tag
  name, so documents using a non-standard prefix (or the strict-OOXML
  namespace) extract identically.
- **PPTX**: ``ppt/slides/slideN.xml`` in numeric deck order (zip
  member order is generator-dependent) — one line per ``a:p``
  paragraph of each shape, ``a:br`` expanded; notes/masters are chrome
  and skipped.
- **ODT**: ``content.xml`` — ``text:p`` and ``text:h`` blocks in
  order, with ``text:s`` (run-length encoded spaces, ``text:c``
  count), ``text:tab`` and ``text:line-break`` expanded; nested spans
  and hyperlinks contribute their text via document-order iteration.
  The ODF ``mimetype`` member must declare ``opendocument.text`` —
  spreadsheets (ODS) and presentations (ODP) share the container
  layout and must NOT dump their cells as prose.

Sniffing and extraction share ONE container open:
:func:`try_extract_office` is the decode-lane entry point — payloads
starting with the ZIP magic whose archive carries the right member
route here (the same pattern as the ``%PDF-`` sniff in
``sources/archive.py:_decoded_text_column``); any OTHER zip returns
None and falls through to the charset lane unchanged.  Malformed
containers (truncated zip, missing member, XML that does not parse)
raise :class:`OfficeFormatError` — typed quarantine, like every codec
here.  The per-format ``extract_*_text(bytes)`` functions remain as
the public single-document API.

Per-document Python riding the Arrow-batched ``mapInPandas`` decode
lane; never row-at-a-time.

No reference counterpart — beyond-reference multimodal surface.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree


class OfficeFormatError(ValueError):
    """Unsupported or corrupt Office (DOCX/PPTX/ODT) document."""


#: MIME types crawls label these documents with (the WARC corpus lanes
#: admit them alongside text/* and application/pdf)
OFFICE_CONTENT_TYPES = (
    "application/vnd.openxmlformats-officedocument"
    ".wordprocessingml.document",
    "application/vnd.openxmlformats-officedocument"
    ".presentationml.presentation",
    "application/vnd.oasis.opendocument.text",
)

_ZIP_MAGIC = b"PK\x03\x04"
_ODT_MIME = b"application/vnd.oasis.opendocument.text"


def _local(tag: str) -> str:
    """Local name of a namespaced XML tag ('{ns}p' -> 'p')."""
    return tag.rsplit("}", 1)[-1]


def _kind_from_zip(zf: zipfile.ZipFile) -> str | None:
    names = set(zf.namelist())
    if "word/document.xml" in names:
        return "docx"
    if "ppt/presentation.xml" in names:
        return "pptx"
    if "content.xml" in names and "mimetype" in names:
        # the mimetype member's CONTENT decides: ODS spreadsheets and
        # ODP decks share the exact container layout, and dumping
        # their cells/shapes as prose would poison the corpus
        try:
            mime = zf.read("mimetype").strip()
        except Exception:
            return None
        if mime == _ODT_MIME:
            return "odt"
    return None


def sniff_office_kind(data: bytes) -> str | None:
    """'docx' / 'pptx' / 'odt' when the payload is a ZIP carrying the
    corresponding document member, else None (including for plain ZIPs
    — those belong to the archive source, not this codec, and for
    non-text OpenDocument containers).  A corrupt zip returns None and
    the caller's normal lane quarantines it."""
    if not data.startswith(_ZIP_MAGIC):
        return None
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            return _kind_from_zip(zf)
    except Exception:
        return None


def _member(zf: zipfile.ZipFile, member: str) -> bytes:
    try:
        return zf.read(member)
    except (zipfile.BadZipFile, KeyError, OSError, EOFError) as e:
        raise OfficeFormatError(f"unreadable container member: {e}") from e


def _parse_xml(raw: bytes) -> ElementTree.Element:
    try:
        return ElementTree.fromstring(raw)
    except ElementTree.ParseError as e:
        raise OfficeFormatError(f"malformed document XML: {e}") from e


def _docx_from_zip(zf: zipfile.ZipFile) -> str:
    root = _parse_xml(_member(zf, "word/document.xml"))
    out: list[str] = []

    def collect(el, parts: list[str]) -> None:
        tag = _local(el.tag)
        if tag == "t":
            parts.append(el.text or "")
            return
        if tag == "tab":
            parts.append("\t")
            return
        if tag in ("br", "cr"):
            parts.append("\n")
            return
        if tag == "AlternateContent":
            # mc:Choice + mc:Fallback carry the SAME content twice;
            # descend into the first branch only
            kids = list(el)
            if kids:
                collect(kids[0], parts)
            return
        for child in el:
            collect(child, parts)

    def blocks(el) -> None:
        tag = _local(el.tag)
        if tag == "p":
            # one line per OUTERMOST paragraph: nested w:p (text boxes)
            # contribute inline via collect(), never as their own line
            parts: list[str] = []
            collect(el, parts)
            out.append("".join(parts))
            return
        if tag == "AlternateContent":
            kids = list(el)
            if kids:
                blocks(kids[0])
            return
        for child in el:
            blocks(child)

    blocks(root)
    return "\n".join(out)


def _odt_from_zip(zf: zipfile.ZipFile) -> str:
    root = _parse_xml(_member(zf, "content.xml"))
    out: list[str] = []

    def walk_block(p) -> str:
        parts: list[str] = []

        def rec(el) -> None:
            tag = _local(el.tag)
            if tag == "s":
                n = 1
                for k, v in el.attrib.items():
                    if _local(k) == "c":
                        try:
                            n = max(1, int(v))
                        except ValueError:
                            n = 1
                parts.append(" " * n)
            elif tag == "tab":
                parts.append("\t")
            elif tag == "line-break":
                parts.append("\n")
            else:
                if el.text:
                    parts.append(el.text)
                for child in el:
                    rec(child)
                    if child.tail:
                        parts.append(child.tail)
                return
            # replaced elements (s/tab/line-break) contribute no text
            # of their own; their tails are appended by the parent loop

        if p.text:
            parts.append(p.text)
        for child in p:
            rec(child)
            if child.tail:
                parts.append(child.tail)
        return "".join(parts)

    def blocks(el) -> None:
        tag = _local(el.tag)
        if tag in ("p", "h"):
            # nested blocks (frames inside a paragraph) contribute
            # inline to their containing line via walk_block
            out.append(walk_block(el))
            return
        for child in el:
            blocks(child)

    blocks(root)
    return "\n".join(out)


def _pptx_from_zip(zf: zipfile.ZipFile) -> str:
    slides = sorted(
        (int(m.group(1)), n)
        for n in zf.namelist()
        if (m := re.fullmatch(r"ppt/slides/slide(\d+)\.xml", n))
    )
    out: list[str] = []
    for _, name in slides:
        root = _parse_xml(_member(zf, name))
        for el in root.iter():
            if _local(el.tag) != "p":
                continue
            parts: list[str] = []
            for sub in el.iter():
                tag = _local(sub.tag)
                if tag == "t":
                    parts.append(sub.text or "")
                elif tag == "br":
                    parts.append("\n")
            out.append("".join(parts))
    return "\n".join(out)


_FROM_ZIP = {"docx": _docx_from_zip, "odt": _odt_from_zip, "pptx": _pptx_from_zip}


def try_extract_office(data: bytes) -> tuple[str, str] | None:
    """Decode-lane entry point, ONE container open for sniff +
    extraction: None when the payload is not a recognizable Office
    document (not a zip / plain zip / non-text ODF — fall through to
    the normal lane); ``(kind, text)`` on success; raises
    :class:`OfficeFormatError` for a RECOGNIZED kind whose document
    XML is unreadable (typed quarantine, charset = the kind)."""
    if not data.startswith(_ZIP_MAGIC):
        return None
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except Exception:
        return None
    with zf:
        kind = _kind_from_zip(zf)
        if kind is None:
            return None
        try:
            return kind, _FROM_ZIP[kind](zf)
        except OfficeFormatError as e:
            e.kind = kind  # the lane's quarantine accounting wants it
            raise


def _extract_via(kind_expected: str, data: bytes) -> str:
    if not data.startswith(_ZIP_MAGIC):
        raise OfficeFormatError("not a zip container")
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except Exception as e:
        raise OfficeFormatError(f"unreadable container: {e}") from e
    with zf:
        return _FROM_ZIP[kind_expected](zf)


def extract_docx_text(data: bytes) -> str:
    """DOCX bytes -> plain text, one line per outermost ``w:p``
    paragraph (table cells included — they hold their own paragraphs;
    text-box paragraphs contribute to their enclosing line).  ``w:tab``
    -> TAB, ``w:br``/``w:cr`` -> newline within the paragraph.  Raises
    :class:`OfficeFormatError` on a corrupt container or XML."""
    return _extract_via("docx", data)


def extract_odt_text(data: bytes) -> str:
    """ODT bytes -> plain text, one line per ``text:p``/``text:h``
    block.  ``text:s`` expands its run-length ``text:c`` spaces,
    ``text:tab`` -> TAB, ``text:line-break`` -> newline; nested spans
    and links contribute in document order.  Raises
    :class:`OfficeFormatError` on a corrupt container or XML."""
    return _extract_via("odt", data)


def extract_pptx_text(data: bytes) -> str:
    """PPTX bytes -> plain text: slides in deck order (the numeric
    suffix of ``ppt/slides/slideN.xml`` — the zip's member order is
    whatever the generator wrote), one line per ``a:p`` paragraph of
    each shape, ``a:br`` as an in-paragraph break.  Slide notes and
    masters are chrome and skipped.  Raises :class:`OfficeFormatError`
    on a corrupt container or XML."""
    return _extract_via("pptx", data)
