"""Minimal PDF writer for the benchmark corpus.

Written from the PDF 1.7 specification (ISO 32000-1) and independent of
``sources/pdf_text.py``, so a codec defect cannot cancel itself out
between writer and reader. Three document shapes:

- ``text_pdf``: one page, a CID-keyed Type0 font (Identity-H, 2-byte
  codes) whose ``/ToUnicode`` CMap is a ``bfchar`` subset of exactly the
  characters the text uses; content and CMap streams are FlateDecode.
  Each text line is shown by its own ``Tj`` after a ``T*`` line move.
- ``scanned_pdf``: one page whose only content is a full-page
  DeviceGray 8-bit image XObject, FlateDecode (an image-only scan).
- ``text_pdf(..., user_password=...)``: the same text page under the
  Standard security handler, RC4-128 revision 3 (§7.6.3), with every
  stream encrypted by its object key.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

# §7.6.3.3 Algorithm 2 step a: the 32-byte password padding string
_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A"
)
_KEY_BYTES = 16  # RC4-128
_PERMISSIONS = -3904  # print + copy allowed, the rest denied


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = byte ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _padded(password: bytes) -> bytes:
    return (password + _PAD)[:32]


def _owner_entry(owner: bytes, user: bytes) -> bytes:
    """Algorithm 3 (revision 3): the /O value."""
    h = hashlib.md5(_padded(owner)).digest()
    for _ in range(50):
        h = hashlib.md5(h).digest()
    key = h[:_KEY_BYTES]
    o = _rc4(key, _padded(user))
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _file_key(user: bytes, o: bytes, file_id: bytes) -> bytes:
    """Algorithm 2 (revision 3): the file encryption key."""
    h = hashlib.md5(
        _padded(user) + o + struct.pack("<i", _PERMISSIONS) + file_id
    ).digest()
    for _ in range(50):
        h = hashlib.md5(h[:_KEY_BYTES]).digest()
    return h[:_KEY_BYTES]


def _user_entry(key: bytes, file_id: bytes) -> bytes:
    """Algorithm 5 (revision 3): the /U value (16 bytes + 16 padding)."""
    u = _rc4(key, hashlib.md5(_PAD + file_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    return u + bytes(16)


def _object_key(key: bytes, num: int) -> bytes:
    """Algorithm 1: per-object key for object ``num`` generation 0."""
    salt = num.to_bytes(3, "little") + (0).to_bytes(2, "little")
    return hashlib.md5(key + salt).digest()[: min(len(key) + 5, 16)]


class _Doc:
    """Objects numbered from 1; streams are kept apart so the writer can
    encrypt them once the object numbers are known."""

    def __init__(self) -> None:
        self.objects: list[tuple[bytes, bytes | None]] = []

    def add(self, body: bytes, stream: bytes | None = None) -> int:
        self.objects.append((body, stream))
        return len(self.objects)

    def render(self, root: int, file_id: bytes, encrypt: tuple | None) -> bytes:
        """``encrypt`` is ``(key, encrypt_dict_object_number)`` or None."""
        out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
        offsets = []
        for num, (body, stream) in enumerate(self.objects, start=1):
            offsets.append(len(out))
            out += b"%d 0 obj\n" % num
            if stream is None:
                out += body
            else:
                if encrypt is not None:
                    stream = _rc4(_object_key(encrypt[0], num), stream)
                out += b"<< %s /Length %d >>\nstream\n" % (body, len(stream))
                out += stream + b"\nendstream"
            out += b"\nendobj\n"
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(offsets) + 1)
        for off in offsets:
            out += b"%010d 00000 n \n" % off
        trailer = b"/Size %d /Root %d 0 R /ID [<%s> <%s>]" % (
            len(offsets) + 1, root, file_id.hex().encode(),
            file_id.hex().encode(),
        )
        if encrypt is not None:
            trailer += b" /Encrypt %d 0 R" % encrypt[1]
        out += b"trailer\n<< %s >>\nstartxref\n%d\n%%%%EOF\n" % (trailer, xref)
        return bytes(out)


def _page_tree(doc: _Doc, resources: bytes, content: bytes) -> int:
    """Catalog -> Pages -> one A4 Page; returns the catalog number."""
    contents = doc.add(b"/Filter /FlateDecode", zlib.compress(content))
    pages = len(doc.objects) + 2
    page = doc.add(
        b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 595 842] "
        b"/Resources %s /Contents %d 0 R >>" % (pages, resources, contents)
    )
    doc.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    return doc.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)


def _tounicode(codes: dict[str, int]) -> bytes:
    """CMap source mapping each 2-byte code to its character; at most
    100 entries per bfchar block (§9.10.3)."""
    entries = sorted((code, ch) for ch, code in codes.items())
    body = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CMapName /Bench-UCS def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        "<0000> <FFFF>",
        "endcodespacerange",
    ]
    for start in range(0, len(entries), 100):
        block = entries[start : start + 100]
        body.append(f"{len(block)} beginbfchar")
        body.extend(f"<{code:04X}> <{ord(ch):04X}>" for code, ch in block)
        body.append("endbfchar")
    body += ["endcmap", "CMapName currentdict /CMap defineresource pop",
             "end", "end"]
    return ("\n".join(body) + "\n").encode("ascii")


def text_pdf(
    text: str, file_id: bytes, user_password: bytes | None = None
) -> bytes:
    """A one-page PDF whose extracted text is ``text`` (lines split on
    newline). Codes are assigned in order of first appearance. With a
    ``user_password`` the file is RC4-128 encrypted for that password."""
    codes: dict[str, int] = {}
    for ch in text:
        if ch != "\n" and ch not in codes:
            codes[ch] = len(codes) + 1
    shows = []
    for n, line in enumerate(text.split("\n")):
        hexcodes = "".join(f"{codes[ch]:04X}" for ch in line)
        shows.append(("T* " if n else "") + f"<{hexcodes}> Tj")
    content = (
        "BT\n/F1 10 Tf\n14 TL\n36 800 Td\n" + "\n".join(shows) + "\nET\n"
    ).encode("ascii")

    doc = _Doc()
    cmap = doc.add(b"/Filter /FlateDecode", zlib.compress(_tounicode(codes)))
    descriptor = doc.add(
        b"<< /Type /FontDescriptor /FontName /BenchCJK /Flags 4 "
        b"/FontBBox [0 -120 1000 880] /ItalicAngle 0 /Ascent 880 "
        b"/Descent -120 /CapHeight 700 /StemV 80 >>"
    )
    cidfont = doc.add(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /BenchCJK "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /FontDescriptor %d 0 R /DW 1000 "
        b"/CIDToGIDMap /Identity >>" % descriptor
    )
    font = doc.add(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /BenchCJK "
        b"/Encoding /Identity-H /DescendantFonts [%d 0 R] "
        b"/ToUnicode %d 0 R >>" % (cidfont, cmap)
    )
    root = _page_tree(doc, b"<< /Font << /F1 %d 0 R >> >>" % font, content)
    if user_password is None:
        return doc.render(root, file_id, None)
    o = _owner_entry(b"bench-owner", user_password)
    key = _file_key(user_password, o, file_id)
    u = _user_entry(key, file_id)
    enc = doc.add(
        b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P %d /O <%s> "
        b"/U <%s> >>" % (_PERMISSIONS, o.hex().encode(), u.hex().encode())
    )
    return doc.render(root, file_id, (key, enc))


def scanned_pdf(pixels: bytes, width: int, height: int, file_id: bytes) -> bytes:
    """A one-page image-only PDF: ``pixels`` is ``height`` rows of
    ``width`` 8-bit gray samples, drawn over the whole A4 page."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match width x height")
    doc = _Doc()
    image = doc.add(
        b"/Type /XObject /Subtype /Image /Width %d /Height %d "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode"
        % (width, height),
        zlib.compress(pixels),
    )
    content = b"q\n595 0 0 842 0 0 cm\n/Im1 Do\nQ\n"
    root = _page_tree(
        doc, b"<< /XObject << /Im1 %d 0 R >> >>" % image, content
    )
    return doc.render(root, file_id, None)
