"""Minimal PDF text + layout extraction (the north-rule's "PDF/layout
parse" branch).

A from-scratch, dependency-free extractor for the common subset of PDF:
uncompressed or FlateDecode content streams, BT/ET text blocks with
Tj/TJ/'/" show operators and Td/TD/Tm/T* positioning. The layout pass
reconstructs reading order from glyph positions: text runs are bucketed
into lines by their y coordinate, lines sorted top-to-bottom (descending
y — PDF user space points up), runs within a line left-to-right, and a
vertical gap larger than ``PARA_GAP`` starts a new paragraph.

Deliberately NOT handled (gated, never silently wrong):

- encrypted documents (``/Encrypt`` in the trailer) -> ``PdfGated``;
- documents whose FlateDecode streams inflate past ``MAX_INFLATED``
  bytes in all (deflate reaches about 1,000:1, so a small row could
  otherwise take gigabytes and minutes) -> ``PdfOverBudget``;
- non-Flate stream filters (DCTDecode, LZW, ...) -> the stream is
  skipped; if no text was recovered at all the result is
  ``extracted=False``;
- CID/Type0 composite fonts with multi-byte encodings: bytes are
  decoded latin-1, which is correct for the Standard-14 fonts this
  targets and deterministic garbage (never a crash) otherwise.

There is no reference counterpart: the reference is HTML-only
(NReadabilityTranscoder.cs), and this branch exists because the target
pipeline ingests mixed-media payloads. Output mirrors the HTML core's
result shape (title, content_html, content_text, spans) so the Spark
job's schema is one struct regardless of payload kind.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field

# vertical gap (in text-space units) between consecutive lines that
# starts a new paragraph; default leading is 12-14pt
PARA_GAP = 20.0
# bytes one document's FlateDecode streams may inflate to, together
MAX_INFLATED = 1 << 23

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.DOTALL)
# literal string with escape pairs consumed atomically: a closing paren
# after an ESCAPED backslash (e.g. "(\\)") is a real terminator — a
# naive (?<!\\) lookbehind gets that wrong. Nested unescaped parens are
# not supported (the builder always escapes them).
_TITLE_RE = re.compile(rb"/Title\s*\(((?:[^()\\]|\\.)*)\)", re.DOTALL)
_NUMBER_RE = re.compile(rb"[-+]?\d*\.?\d+")


_STREAM_BODY_RE = re.compile(rb"stream\r?\n.*?endstream", re.DOTALL)


def _strip_stream_bodies(data: bytes) -> bytes:
    """The file with every ``stream ... endstream`` payload blanked —
    the region metadata scans (/Title, /Encrypt) must search, so a
    content stream containing literal ``/Title (x)`` or ``/Encrypt``
    page text cannot masquerade as the Info dict / trailer entry.
    Object dictionaries and the trailer survive untouched."""
    return _STREAM_BODY_RE.sub(b"stream\nendstream", data)


class PdfGated(Exception):
    """Raised for well-formed PDFs this extractor refuses to guess at
    (encryption); surfaces in the job's ``error`` column."""


class PdfOverBudget(Exception):
    """Raised when a document's streams inflate past ``MAX_INFLATED``
    bytes; surfaces in the job's ``error`` column."""


def _inflate(stream: bytes, budget: int) -> bytes | None:
    """``stream`` inflated, or None for a corrupt or truncated stream
    (retried once without a trailing EOL, which writers commonly pad
    before ``endstream``). Raises ``PdfOverBudget`` when the output
    passes ``budget`` bytes; never inflates more than one byte past it."""
    for data in (stream, stream.rstrip(b"\r\n")):
        inflater = zlib.decompressobj()
        try:
            out = inflater.decompress(data, budget + 1)
        except zlib.error:
            continue
        if len(out) > budget:
            raise PdfOverBudget(f"FlateDecode streams inflate past {MAX_INFLATED} bytes")
        if inflater.eof:
            return out
    return None


def looks_like_pdf(payload: str | bytes | None) -> bool:
    if payload is None:
        return False
    head = payload[:8]
    if isinstance(head, str):
        return head.startswith("%PDF-")
    return head.startswith(b"%PDF-")


def _unescape_pdf_string(raw: bytes) -> str:
    """PDF literal string -> text: \\(, \\), \\\\, \\n, \\r, \\t, \\b,
    \\f, \\ddd octal, and line continuations."""
    out = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c != 0x5C:  # backslash
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        e = raw[i]
        mapped = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}.get(e)
        if mapped is not None:
            out.append(mapped)
            i += 1
        elif e in (0x28, 0x29, 0x5C):
            out.append(e)
            i += 1
        elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
            j = i
            while j < n and j < i + 3 and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        elif e in (0x0A, 0x0D):  # line continuation
            i += 1
            if e == 0x0D and i < n and raw[i] == 0x0A:
                i += 1
        else:
            out.append(e)
            i += 1
    return bytes(out).decode("latin-1")


def _tokenize_content(data: bytes):
    """Content-stream tokens: literal strings, arrays, numbers, names,
    operators — just enough for the text operators."""
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if c in b" \t\r\n\x00":
            i += 1
        elif c == 0x28:  # ( literal string, nesting + escapes
            depth, j = 1, i + 1
            while j < n and depth:
                ch = data[j]
                if ch == 0x5C:
                    j += 2
                    continue
                if ch == 0x28:
                    depth += 1
                elif ch == 0x29:
                    depth -= 1
                j += 1
            yield ("str", _unescape_pdf_string(data[i + 1 : j - 1]))
            i = j
        elif c == 0x3C and i + 1 < n and data[i + 1] == 0x3C:  # << dict: skip
            depth, j = 1, i + 2
            while j + 1 < n and depth:
                if data[j : j + 2] == b"<<":
                    depth += 1
                    j += 2
                elif data[j : j + 2] == b">>":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            i = j
        elif c == 0x3C:  # <hex string>
            j = data.find(b">", i)
            j = n if j < 0 else j
            hx = re.sub(rb"\s", b"", data[i + 1 : j])
            if len(hx) % 2:
                hx += b"0"
            try:
                yield ("str", bytes.fromhex(hx.decode("ascii")).decode("latin-1"))
            except ValueError:
                pass
            i = j + 1
        elif c in b"[]":
            yield ("arr", chr(c))
            i += 1
        elif c == 0x2F:  # /Name
            j = i + 1
            while j < n and data[j] not in b" \t\r\n\x00()<>[]{}/%":
                j += 1
            i = j
        elif c == 0x25:  # % comment
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            m = _NUMBER_RE.match(data, i)
            if m and m.start() == i:
                yield ("num", float(m.group()))
                i = m.end()
            else:
                j = i
                while j < n and data[j] not in b" \t\r\n\x00()<>[]{}/%":
                    j += 1
                if j == i:
                    i += 1
                    continue
                yield ("op", data[i:j].decode("latin-1", "replace"))
                i = j


@dataclass
class _TextRun:
    x: float
    y: float
    text: str


@dataclass
class _TextState:
    x: float = 0.0
    y: float = 0.0
    leading: float = 0.0
    line_start: tuple = (0.0, 0.0)
    runs: list = field(default_factory=list)


def _extract_runs(content: bytes) -> list[_TextRun]:
    """Walk BT/ET blocks; emit one positioned run per show operator."""
    state = None
    stack: list = []  # operand stack (numbers / strings / arrays)
    runs: list[_TextRun] = []
    arr: list | None = None
    for kind, val in _tokenize_content(content):
        if kind == "arr":
            if val == "[":
                arr = []
            else:
                stack.append(arr if arr is not None else [])
                arr = None
            continue
        if kind in ("num", "str"):
            (arr if arr is not None else stack).append(val)
            continue
        op = val
        if op == "BT":
            state = _TextState()
            stack.clear()
        elif op == "ET":
            if state is not None:
                runs.extend(state.runs)
            state = None
        elif state is None:
            stack.clear()
        elif op in ("Td", "TD"):
            if len(stack) >= 2:
                tx, ty = stack[-2], stack[-1]
                if isinstance(tx, float) and isinstance(ty, float):
                    sx, sy = state.line_start
                    state.x, state.y = sx + tx, sy + ty
                    state.line_start = (state.x, state.y)
                    if op == "TD":
                        state.leading = -ty
            stack.clear()
        elif op == "Tm":
            if len(stack) >= 6 and all(isinstance(v, float) for v in stack[-6:]):
                state.x, state.y = stack[-2], stack[-1]
                state.line_start = (state.x, state.y)
            stack.clear()
        elif op == "TL":
            if stack and isinstance(stack[-1], float):
                state.leading = stack[-1]
            stack.clear()
        elif op == "T*":
            sx, sy = state.line_start
            state.x, state.y = sx, sy - state.leading
            state.line_start = (state.x, state.y)
            stack.clear()
        elif op == "Tj":
            if stack and isinstance(stack[-1], str):
                state.runs.append(_TextRun(state.x, state.y, stack[-1]))
            stack.clear()
        elif op in ("'", '"'):
            s = next((v for v in reversed(stack) if isinstance(v, str)), None)
            sx, sy = state.line_start
            state.x, state.y = sx, sy - state.leading
            state.line_start = (state.x, state.y)
            if s is not None:
                state.runs.append(_TextRun(state.x, state.y, s))
            stack.clear()
        elif op == "TJ":
            if stack and isinstance(stack[-1], list):
                text = "".join(v for v in stack[-1] if isinstance(v, str))
                if text:
                    state.runs.append(_TextRun(state.x, state.y, text))
            stack.clear()
        else:
            stack.clear()
    return runs


def _layout(runs: list[_TextRun]) -> list[str]:
    """Positioned runs -> paragraphs: bucket by y into lines, sort lines
    top-to-bottom and runs left-to-right, split paragraphs on y gaps."""
    if not runs:
        return []
    lines: dict[float, list[_TextRun]] = {}
    for r in runs:
        key = round(r.y, 1)
        lines.setdefault(key, []).append(r)
    ordered = sorted(lines.items(), key=lambda kv: -kv[0])
    paragraphs: list[list[str]] = []
    prev_y = None
    for y, line_runs in ordered:
        line = " ".join(
            r.text.strip() for r in sorted(line_runs, key=lambda r: r.x) if r.text.strip()
        )
        if not line:
            continue
        if prev_y is None or (prev_y - y) > PARA_GAP or not paragraphs:
            paragraphs.append([line])
        else:
            paragraphs[-1].append(line)
        prev_y = y
    return [" ".join(p) for p in paragraphs if p]


def _escape_html(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


@dataclass
class PdfResult:
    title: str | None
    content_html: str
    content_text: str
    extracted: bool
    spans: list  # [(start, end)) of each paragraph in content_text


def extract_pdf(payload: str | bytes) -> PdfResult:
    """PDF bytes (or latin-1 string) -> title + paragraphs, reference-
    result-shaped. Raises ``PdfGated`` for encrypted files and
    ``PdfOverBudget`` past the inflation budget; malformed input yields
    ``extracted=False`` (never a crash on a hostile row)."""
    data = payload.encode("latin-1", "replace") if isinstance(payload, str) else payload
    # metadata scans run on the stream-blanked view: page text inside a
    # content stream must never supply the title or trip the encryption
    # gate (dictionaries and the trailer are outside stream bodies)
    meta_view = _strip_stream_bodies(data)
    if b"/Encrypt" in meta_view:
        raise PdfGated("encrypted PDF: decryption not supported")

    title_m = _TITLE_RE.search(meta_view)
    title = _unescape_pdf_string(title_m.group(1)) if title_m else None

    runs: list[_TextRun] = []
    budget = MAX_INFLATED
    for dict_bytes, stream in _STREAM_RE.findall(data):
        if b"/Filter" in dict_bytes:
            if b"/FlateDecode" not in dict_bytes:
                continue  # unsupported filter: skip this stream
            stream = _inflate(stream, budget)
            if stream is None:
                continue
            budget -= len(stream)
        runs.extend(_extract_runs(stream))

    paragraphs = _layout(runs)
    if not paragraphs:
        return PdfResult(title, "", "", False, [])
    spans = []
    pos = 0
    for p in paragraphs:
        spans.append((pos, pos + len(p)))
        pos += len(p)
    text = "".join(paragraphs)
    html = "<div>" + "".join(f"<p>{_escape_html(p)}</p>" for p in paragraphs) + "</div>"
    return PdfResult(title, html, text, True, spans)
