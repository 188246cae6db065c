"""Minimal spec-valid PDF writer for the benchmark's generated report set.

Every document is real PDF bytes: catalog, pages tree, Helvetica font and one
content stream per page, with a correct xref table. The variants cover the
decoder paths of the pipeline's PDF reader:

- ``flate``: FlateDecode content streams;
- ``png``: PNG Up-predicted rows (``/Predictor 12``) before deflate;
- ``objstm``: PDF 1.5 object stream holding the catalog/pages/font/page
  dictionaries;
- ``rc4``: standard security handler, ``/V 2 /R 3`` RC4-128;
- ``aes``: standard security handler, ``/V 4 /R 4`` AES-128 (``/AESV2``);
- ``corrupt_header``: bytes that do not start with ``%PDF``;
- ``corrupt_stream``: a well-formed file whose content streams are noise.

Both encrypted forms use empty user and owner passwords, so any conforming
reader opens them without a prompt. ASCII lines are literal strings and
non-ASCII lines UTF-16BE hex strings.

Stream data ends with a bare LF before ``endstream``, the layout of the
program's own test writer (``src/test/scala/graft/MiniPdf.scala``).

An AES stream whose ciphertext ends in 0x0D is one the program's reader
loses: it trims that byte with the LF (an open defect, see
``perfbench/README.md``). The IV of each AES stream is therefore chosen: the
first of a fixed sequence of IVs whose ciphertext ends in 0x0D for the pages
named in ``cr_pages`` and in any other byte for all other pages. The timed
report set names none, so no execution fails on it; the defect probe
document names half of its pages, so the defect shows on every seed.
"""
import hashlib
import zlib

KINDS = ("flate", "png", "objstm", "rc4", "aes", "corrupt_header", "corrupt_stream")
CORRUPT_KINDS = ("corrupt_header", "corrupt_stream")

PASSWORD_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


def _escape(line):
    return line.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _pdf_string(line):
    if line.isascii() and line.isprintable():
        return "(" + _escape(line) + ")"
    return "<FEFF" + line.encode("utf-16-be").hex().upper() + ">"


def content_stream(page_text):
    body = ["BT\n/F1 11 Tf\n72 760 Td\n"]
    for i, line in enumerate(page_text.split("\n")):
        if i > 0:
            body.append("0 -14 Td\n")
        body.append(_pdf_string(line) + " Tj\n")
    body.append("ET\n")
    return "".join(body).encode("latin-1")


def _deflate(data):
    return zlib.compress(data, 6)


def _png_up_deflate(data, cols=16):
    data = data + b"\n" * ((cols - len(data) % cols) % cols)
    out = bytearray()
    prev = bytes(cols)
    for r in range(0, len(data), cols):
        row = data[r:r + cols]
        out.append(2)
        out.extend((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    return _deflate(bytes(out)), cols


# ---------------------------------------------------------------- RC4 / AES

def rc4(key, data):
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _aes_tables():
    sbox = [0] * 256
    p = q = 1
    while True:
        p = p ^ ((p << 1) & 0xFF) ^ (0x1B if p & 0x80 else 0)
        q ^= q << 1
        q ^= q << 2
        q ^= q << 4
        q &= 0xFF
        if q & 0x80:
            q ^= 0x09
        x = q ^ (((q << 1) | (q >> 7)) & 0xFF) ^ (((q << 2) | (q >> 6)) & 0xFF) \
            ^ (((q << 3) | (q >> 5)) & 0xFF) ^ (((q << 4) | (q >> 4)) & 0xFF)
        sbox[p] = x ^ 0x63
        if p == 1:
            break
    sbox[0] = 0x63
    return sbox


_SBOX = _aes_tables()


def _xtime(a):
    return ((a << 1) ^ 0x1B) & 0xFF if a & 0x80 else a << 1


def _expand_key(key):
    words = [list(key[i:i + 4]) for i in range(0, 16, 4)]
    rcon = 1
    for i in range(4, 44):
        t = list(words[i - 1])
        if i % 4 == 0:
            t = [_SBOX[b] for b in t[1:] + t[:1]]
            t[0] ^= rcon
            rcon = _xtime(rcon)
        words.append([a ^ b for a, b in zip(words[i - 4], t)])
    return [sum(words[r * 4:r * 4 + 4], []) for r in range(11)]


def _encrypt_block(rounds, block):
    s = [a ^ b for a, b in zip(block, rounds[0])]
    for r in range(1, 11):
        s = [_SBOX[b] for b in s]
        s = [s[(i + 4 * (i % 4)) % 16] for i in range(16)]  # ShiftRows
        if r < 10:
            m = []
            for c in range(4):
                a = s[4 * c:4 * c + 4]
                t = a[0] ^ a[1] ^ a[2] ^ a[3]
                m += [a[i] ^ t ^ _xtime(a[i] ^ a[(i + 1) % 4]) for i in range(4)]
            s = m
        s = [a ^ b for a, b in zip(s, rounds[r])]
    return bytes(s)


def aes128_cbc_encrypt(key, iv, data):
    """AES-128-CBC with PKCS#5 padding; returns iv || ciphertext."""
    rounds = _expand_key(key)
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        prev = _encrypt_block(rounds, [a ^ b for a, b in zip(data[i:i + 16], prev)])
        out += prev
    return bytes(out)


def _md5(*parts):
    h = hashlib.md5()
    for p in parts:
        h.update(p)
    return h.digest()


def _security(r):
    """O, U, file key and permissions for empty passwords (Algorithms 2-5)."""
    perms = -44
    id0 = bytes((i * 7 + 3) & 0xFF for i in range(16))
    n = 16
    h = _md5(PASSWORD_PAD)
    for _ in range(50):
        h = _md5(h)
    okey = h[:n]
    o = rc4(okey, PASSWORD_PAD)
    for i in range(1, 20):
        o = rc4(bytes(b ^ i for b in okey), o)
    fk = _md5(PASSWORD_PAD, o, (perms & 0xFFFFFFFF).to_bytes(4, "little"), id0)
    for _ in range(50):
        fk = _md5(fk[:n])
    fk = fk[:n]
    u = rc4(fk, _md5(PASSWORD_PAD, id0))
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in fk), u)
    return o, u + bytes(16), fk, perms, id0


def _object_key(fk, num, aes):
    ext = bytes([num & 0xFF, (num >> 8) & 0xFF, (num >> 16) & 0xFF, 0, 0])
    return _md5(fk, ext + (b"sAlT" if aes else b""))[:min(len(fk) + 5, 16)]


# ---------------------------------------------------------------- documents

def _aes_stream(key, num, data, want_cr):
    """IV || AES ciphertext of one stream; the IV is md5 of the object
    number (MiniPdf's), else of the number and an attempt counter, the first
    whose ciphertext ends in 0x0D exactly when ``want_cr``."""
    for attempt in range(1 << 16):
        seed = bytes([num & 0xFF]) + (attempt.to_bytes(2, "big") if attempt else b"")
        out = aes128_cbc_encrypt(key, _md5(seed), data)
        if (out[-1] == 0x0D) == want_cr:
            return out
    raise ValueError("no IV gives the wanted last byte")


def _classic(pages, kind, cr_pages=()):
    """Classic xref layout: 1 catalog, 2 pages, 3 font, then (page, content)*."""
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []

    def obj(body):
        offsets.append(len(out))
        out.extend(b"%d 0 obj\n" % len(offsets))
        out.extend(body)
        out.extend(b"endobj\n")

    encrypted = kind in ("rc4", "aes")
    if encrypted:
        o, u, fk, perms, id0 = _security(3 if kind == "rc4" else 4)
    n = len(pages)
    kids = " ".join("%d 0 R" % (4 + 2 * i) for i in range(n))
    obj(b"<< /Type /Catalog /Pages 2 0 R >>\n")
    obj(("<< /Type /Pages /Kids [%s] /Count %d >>\n" % (kids, n)).encode())
    obj(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\n")
    for page_no, text in enumerate(pages):
        content_num = len(offsets) + 2
        obj(("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             "/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>\n"
             % content_num).encode())
        raw = content_stream(text)
        parms = " /Filter /FlateDecode"
        if kind == "png":
            data, cols = _png_up_deflate(raw)
            parms += " /DecodeParms << /Predictor 12 /Columns %d >>" % cols
        else:
            data = _deflate(raw)
        if kind == "corrupt_stream":
            data = bytes((b * 131 + 17 + i) & 0xFF for i, b in enumerate(data))
        elif kind == "rc4":
            data = rc4(_object_key(fk, content_num, False), data)
        elif kind == "aes":
            data = _aes_stream(_object_key(fk, content_num, True), content_num, data,
                               page_no in cr_pages)
        obj(b"<< /Length %d%s >>\nstream\n" % (len(data), parms.encode())
            + data + b"\nendstream\n")
    trailer_extra = ""
    if encrypted:
        enc_num = len(offsets) + 1
        if kind == "rc4":
            vr = "/V 2 /R 3 /Length 128"
        else:
            vr = ("/V 4 /R 4 /Length 128 /CF << /StdCF << /CFM /AESV2 "
                  "/AuthEvent /DocOpen /Length 16 >> >> /StmF /StdCF /StrF /StdCF")
        obj(("<< /Filter /Standard %s /O <%s> /U <%s> /P %d >>\n"
             % (vr, o.hex().upper(), u.hex().upper(), perms)).encode())
        trailer_extra = " /Encrypt %d 0 R /ID [<%s> <%s>]" % (
            enc_num, id0.hex().upper(), id0.hex().upper())
    xref_at = len(out)
    out.extend(b"xref\n0 %d\n0000000000 65535 f \n" % (len(offsets) + 1))
    for off in offsets:
        out.extend(b"%010d 00000 n \n" % off)
    out.extend(("trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
                % (len(offsets) + 1, trailer_extra, xref_at)).encode())
    return bytes(out)


def _objstm(pages):
    """PDF 1.5: 1 = ObjStm with catalog (2), pages (3), font (4) and page
    dictionaries (5..4+n); content streams stay top level."""
    n = len(pages)
    content_nums = [5 + n + i for i in range(n)]
    embedded = [(2, "<< /Type /Catalog /Pages 3 0 R >>"),
                (3, "<< /Type /Pages /Kids [%s] /Count %d >>"
                 % (" ".join("%d 0 R" % (5 + i) for i in range(n)), n)),
                (4, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")]
    embedded += [(5 + i, "<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
                  "/Resources << /Font << /F1 4 0 R >> >> /Contents %d 0 R >>"
                  % content_nums[i]) for i in range(n)]
    bodies = [b + "\n" for _, b in embedded]
    offs, acc = [], 0
    for b in bodies:
        offs.append(acc)
        acc += len(b)
    header = " ".join("%d %d" % (num, off) for (num, _), off in zip(embedded, offs)) + "\n"
    packed = _deflate((header + "".join(bodies)).encode("latin-1"))
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    out.extend(b"1 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>\nstream\n"
               % (len(embedded), len(header), len(packed)))
    out.extend(packed + b"\nendstream\nendobj\n")
    for i, text in enumerate(pages):
        data = _deflate(content_stream(text))
        out.extend(b"%d 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
                   % (content_nums[i], len(data)))
        out.extend(data + b"\nendstream\nendobj\n")
    out.extend(b"trailer\n<< /Root 2 0 R >>\n%%EOF\n")
    return bytes(out)


def write(pages, kind="flate", cr_pages=()):
    """One PDF document; ``pages[i]`` becomes page i+1's text. For ``aes``,
    the content streams of the 0-based pages in ``cr_pages`` end in 0x0D."""
    if kind == "objstm":
        return _objstm(pages)
    if kind == "corrupt_header":
        body = _classic(pages, "flate")
        return b"\x00\x00GARBLED" + bytes((b * 7 + 1) & 0xFF for b in body[:4096])
    return _classic(pages, kind, cr_pages)
