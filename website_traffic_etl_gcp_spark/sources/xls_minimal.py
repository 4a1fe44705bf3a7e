"""Minimal pure-Python .xls (BIFF8) reader + writer.

The reference pipeline's first step is a pandas read with the xlrd
engine over a legacy .xls workbook (reference extract.py:55-80). This
module is the one XLS decoder here, so the ingest path decodes the
same way on every host, with or without an Excel engine installed.
Both halves here implement the PUBLIC file-format specs — [MS-CFB]
(OLE2 compound file binary) and [MS-XLS] (BIFF8 record stream) — just
enough for flat tabular sheets:

- ``read_xls(path)`` → (header, rows): parses the compound-file FAT
  (regular and mini stream), locates the ``Workbook``/``Book``
  stream, and walks BIFF records — BOF/BOUNDSHEET/SST in the globals
  substream; NUMBER / RK / MULRK / LABEL / LABELSST / BOOLERR /
  BLANK / MULBLANK cells in the first worksheet substream.
- ``write_xls(path, header, rows)`` → a structurally valid minimal
  workbook (single FAT sector, single directory sector, one
  worksheet, LABEL/NUMBER cells) used to generate test fixtures.

Deliberately NOT supported (clear errors instead of wrong data):
formulas, SST records split across CONTINUE boundaries, rich-text /
far-east string runs, encrypted workbooks, BIFF5 and earlier.

The Spark-side entry point is ``readers.read_xls_many``.
"""

from __future__ import annotations

import struct

# ---- [MS-CFB] constants --------------------------------------------------

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_NOSTREAM = 0xFFFFFFFF

# ---- BIFF8 record ids ----------------------------------------------------

_BOF = 0x0809
_EOF = 0x000A
_BOUNDSHEET = 0x0085
_SST = 0x00FC
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_BOOLERR = 0x0205
_BLANK = 0x0201
_MULBLANK = 0x00BE
_CONTINUE = 0x003C
_CODEPAGE = 0x0042
_DIMENSIONS = 0x0200


class XlsFormatError(Exception):
    """The file is not a (supported) BIFF8 workbook."""


# ============================= reader ======================================


def _read_chain(data: bytes, fat: list[int], start: int, sector_size: int,
                offset: int) -> bytes:
    out = bytearray()
    sect = start
    seen = 0
    while sect != _ENDOFCHAIN:
        if sect >= len(fat) or seen > len(fat):
            raise XlsFormatError("broken sector chain")
        pos = offset + sect * sector_size
        out += data[pos:pos + sector_size]
        sect = fat[sect]
        seen += 1
    return bytes(out)


def _cfb_stream(data: bytes, names: tuple[str, ...]) -> bytes:
    """Extract the first directory stream whose name matches (handles
    both the regular FAT and the mini stream)."""
    if data[:8] != _CFB_MAGIC:
        raise XlsFormatError("not an OLE2 compound file")
    # sector addressing below hardcodes the 512-byte header offset
    # (sector 0 begins at byte 512); CFB major-version 4 uses
    # 4096-byte sectors whose sector 0 begins at byte 4096, so such
    # files would misparse into a confusing broken-chain error —
    # reject them explicitly instead
    major_version = struct.unpack_from("<H", data, 26)[0]
    if major_version not in (3,):
        raise XlsFormatError(
            f"CFB major version {major_version} unsupported (only v3 "
            "with 512-byte sectors; v4 uses 4096-byte sectors)"
        )
    sector_shift = struct.unpack_from("<H", data, 30)[0]
    if 1 << sector_shift != 512:
        raise XlsFormatError(
            f"sector size {1 << sector_shift} unsupported (need 512)"
        )
    mini_shift = struct.unpack_from("<H", data, 32)[0]
    sector_size = 1 << sector_shift
    mini_size = 1 << mini_shift
    n_fat = struct.unpack_from("<I", data, 44)[0]
    first_dir = struct.unpack_from("<I", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    first_minifat = struct.unpack_from("<I", data, 60)[0]
    n_minifat = struct.unpack_from("<I", data, 64)[0]
    first_difat = struct.unpack_from("<I", data, 68)[0]

    # FAT sector list: 109 header DIFAT entries + chained DIFAT sectors
    fat_sectors = [
        s for (s,) in struct.iter_unpack("<I", data[76:76 + 109 * 4])
        if s not in (_FREESECT, _ENDOFCHAIN)
    ][:n_fat]
    difat = first_difat
    while difat not in (_ENDOFCHAIN, _FREESECT) and len(fat_sectors) < n_fat:
        pos = 512 + difat * sector_size
        entries = list(
            struct.unpack_from(f"<{sector_size // 4}I", data, pos)
        )
        fat_sectors += [
            s for s in entries[:-1] if s not in (_FREESECT, _ENDOFCHAIN)
        ]
        difat = entries[-1]
    fat: list[int] = []
    for s in fat_sectors:
        pos = 512 + s * sector_size
        fat += list(struct.unpack_from(f"<{sector_size // 4}I", data, pos))

    directory = _read_chain(data, fat, first_dir, sector_size, 512)
    root_start = struct.unpack_from("<I", directory, 116)[0]
    root_size = struct.unpack_from("<Q", directory, 120)[0]

    minifat: list[int] = []
    if n_minifat and first_minifat not in (_ENDOFCHAIN, _FREESECT):
        raw = _read_chain(data, fat, first_minifat, sector_size, 512)
        minifat = [s for (s,) in struct.iter_unpack("<I", raw)]
    mini_stream = (
        _read_chain(data, fat, root_start, sector_size, 512)[:root_size]
        if root_start != _ENDOFCHAIN
        else b""
    )

    want = {n.lower() for n in names}
    for off in range(0, len(directory), 128):
        entry = directory[off:off + 128]
        if len(entry) < 128:
            break
        name_len = struct.unpack_from("<H", entry, 64)[0]
        obj_type = entry[66]
        if obj_type != 2 or name_len < 2:
            continue
        name = entry[:name_len - 2].decode("utf-16-le", "replace")
        if name.lower() not in want:
            continue
        start = struct.unpack_from("<I", entry, 116)[0]
        size = struct.unpack_from("<Q", entry, 120)[0]
        if size < mini_cutoff:
            out = bytearray()
            sect = start
            while sect != _ENDOFCHAIN and len(out) < size:
                out += mini_stream[sect * mini_size:(sect + 1) * mini_size]
                sect = minifat[sect] if sect < len(minifat) else _ENDOFCHAIN
            return bytes(out[:size])
        return _read_chain(data, fat, start, sector_size, 512)[:size]
    raise XlsFormatError(f"no stream named any of {names!r}")


def _records(stream: bytes):
    pos = 0
    while pos + 4 <= len(stream):
        rid, length = struct.unpack_from("<HH", stream, pos)
        body = stream[pos + 4:pos + 4 + length]
        yield pos, rid, body
        pos += 4 + length


def _decode_rk(rk: int) -> float:
    div100 = rk & 1
    as_int = rk & 2
    if as_int:
        v: float = float(rk >> 2 if rk >= 0 else -((-rk) >> 2))
        # python ints are unbounded; emulate 30-bit signed
        if rk & 0x80000000:
            v = float((rk >> 2) - (1 << 30))
    else:
        v = struct.unpack("<d", b"\x00\x00\x00\x00" +
                          struct.pack("<I", rk & 0xFFFFFFFC))[0]
    return v / 100.0 if div100 else v


def _unicode_string(body: bytes, pos: int) -> tuple[str, int]:
    """XLUnicodeString: cch(u16) flags(u8) chars — no rich/ext runs."""
    cch, flags = struct.unpack_from("<HB", body, pos)
    if flags & 0x0C:
        raise XlsFormatError("rich-text/far-east SST strings unsupported")
    pos += 3
    if flags & 0x01:
        s = body[pos:pos + 2 * cch].decode("utf-16-le")
        return s, pos + 2 * cch
    return body[pos:pos + cch].decode("latin-1"), pos + cch


def _parse_sst(body: bytes) -> list[str]:
    total, unique = struct.unpack_from("<II", body, 0)
    out = []
    pos = 8
    for _ in range(unique):
        if pos >= len(body):
            raise XlsFormatError(
                "SST spans CONTINUE records — unsupported by the "
                "minimal reader (files this size need a real engine)"
            )
        s, pos = _unicode_string(body, pos)
        out.append(s)
    return out


def read_xls(path: str) -> tuple[list[str], list[list[object]]]:
    """Parse the FIRST worksheet of a BIFF8 .xls into (header, rows):
    row 0 is the header (stringified), remaining rows are python
    values (float for NUMBER/RK, str for labels, bool for BOOLERR,
    None for blanks/gaps) in a dense rectangle."""
    with open(path, "rb") as f:
        data = f.read()
    stream = _cfb_stream(data, ("workbook", "book"))

    sst: list[str] = []
    sheet_offsets: list[int] = []
    in_globals = False
    # pass 1: globals substream — SST + first sheet offset
    for pos, rid, body in _records(stream):
        if rid == _BOF:
            version, subtype = struct.unpack_from("<HH", body, 0)
            if version != 0x0600:
                raise XlsFormatError(
                    f"BIFF version 0x{version:04x} unsupported (need BIFF8)"
                )
            if subtype == 0x0005:
                in_globals = True
            else:
                break  # first non-globals substream: globals are done
        elif in_globals and rid == _SST:
            sst = _parse_sst(body)
        elif in_globals and rid == _BOUNDSHEET:
            sheet_offsets.append(struct.unpack_from("<I", body, 0)[0])
        elif in_globals and rid == _EOF:
            break
    if not sheet_offsets:
        raise XlsFormatError("no BOUNDSHEET records (empty workbook?)")

    cells: dict[tuple[int, int], object] = {}
    substream = stream[sheet_offsets[0]:]
    started = False
    for pos, rid, body in _records(substream):
        if rid == _BOF:
            if started:
                break
            started = True
        elif rid == _EOF:
            break
        elif rid == _NUMBER:
            r, c = struct.unpack_from("<HH", body, 0)
            cells[(r, c)] = struct.unpack_from("<d", body, 6)[0]
        elif rid == _RK:
            r, c = struct.unpack_from("<HH", body, 0)
            cells[(r, c)] = _decode_rk(struct.unpack_from("<I", body, 6)[0])
        elif rid == _MULRK:
            r, c0 = struct.unpack_from("<HH", body, 0)
            n = (len(body) - 6) // 6
            for i in range(n):
                rk = struct.unpack_from("<I", body, 4 + i * 6 + 2)[0]
                cells[(r, c0 + i)] = _decode_rk(rk)
        elif rid == _LABEL:
            r, c = struct.unpack_from("<HH", body, 0)
            cells[(r, c)] = _unicode_string(body, 6)[0]
        elif rid == _LABELSST:
            r, c = struct.unpack_from("<HH", body, 0)
            isst = struct.unpack_from("<I", body, 6)[0]
            cells[(r, c)] = sst[isst]
        elif rid == _BOOLERR:
            r, c = struct.unpack_from("<HH", body, 0)
            val, is_err = body[6], body[7]
            cells[(r, c)] = None if is_err else bool(val)

    if not cells:
        return [], []
    n_rows = max(r for r, _ in cells) + 1
    n_cols = max(c for _, c in cells) + 1
    grid = [[cells.get((r, c)) for c in range(n_cols)] for r in range(n_rows)]
    header = [str(v) if v is not None else "" for v in grid[0]]
    return header, grid[1:]


# ============================= writer ======================================


def _rec(rid: int, body: bytes) -> bytes:
    return struct.pack("<HH", rid, len(body)) + body


def _label(row: int, col: int, text: str) -> bytes:
    raw = text.encode("latin-1", "replace")
    return _rec(
        _LABEL,
        struct.pack("<HHHHB", row, col, 0x000F, len(raw), 0) + raw,
    )


def _number(row: int, col: int, value: float) -> bytes:
    return _rec(_NUMBER, struct.pack("<HHHd", row, col, 0x000F, value))


def write_xls(path: str, header: list[str], rows: list[list[object]]) -> None:
    """Write a minimal single-sheet BIFF8 .xls: header as LABEL cells,
    body cells as NUMBER (numeric) or LABEL (everything else). The
    workbook stream is padded past the 4096-byte mini-stream cutoff so
    it lives in the regular FAT — one FAT sector and one directory
    sector describe the whole file."""
    n_cols = len(header)
    n_rows = 1 + len(rows)

    sheet = bytearray()
    sheet += _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0x0DBB,
                                    0x07CC, 0, 0))
    sheet += _rec(_DIMENSIONS,
                  struct.pack("<IIHHH", 0, n_rows, 0, n_cols, 0))
    for c, name in enumerate(header):
        sheet += _label(0, c, str(name))
    for r, row in enumerate(rows, start=1):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                sheet += _label(r, c, str(v))
            else:
                sheet += _number(r, c, float(v))
    sheet += _rec(_EOF, b"")

    sheet_name = b"Sheet1"
    boundsheet_body_len = 4 + 2 + 1 + 1 + len(sheet_name)
    globals_len = (
        4 + 16         # BOF
        + 4 + 2        # CODEPAGE
        + 4 + boundsheet_body_len
        + 4            # EOF
    )
    glob = bytearray()
    glob += _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0x0DBB,
                                   0x07CC, 0, 0))
    glob += _rec(_CODEPAGE, struct.pack("<H", 0x04B0))  # UTF-16 marker
    glob += _rec(
        _BOUNDSHEET,
        struct.pack("<IBBB", globals_len, 0, 0, len(sheet_name))
        + b"\x00" + sheet_name,
    )
    # BOUNDSHEET's offset field points at the sheet BOF = end of globals
    assert len(glob) + 4 == globals_len, (len(glob), globals_len)
    glob += _rec(_EOF, b"")
    workbook = bytes(glob) + bytes(sheet)
    # pad past the mini-stream cutoff (trailing zeros after the final
    # EOF record are outside every substream and never parsed)
    if len(workbook) < 4096:
        workbook += b"\x00" * (4096 - len(workbook))

    sector = 512
    n_stream_sectors = (len(workbook) + sector - 1) // sector
    workbook += b"\x00" * (n_stream_sectors * sector - len(workbook))

    # sector map: 0 = FAT, 1 = directory, 2.. = workbook stream
    fat = [_FATSECT, _ENDOFCHAIN]
    fat += [i + 3 for i in range(n_stream_sectors - 1)] + [_ENDOFCHAIN]
    if len(fat) > sector // 4:
        raise XlsFormatError("fixture too large for the single-FAT writer")
    fat += [_FREESECT] * (sector // 4 - len(fat))

    def dirent(name: str, obj_type: int, child: int, start: int,
               size: int) -> bytes:
        raw = name.encode("utf-16-le") + b"\x00\x00"
        e = bytearray(128)
        e[0:len(raw)] = raw
        struct.pack_into("<H", e, 64, len(raw))
        e[66] = obj_type
        e[67] = 1  # black
        struct.pack_into("<III", e, 68, _NOSTREAM, _NOSTREAM, child)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    directory = (
        dirent("Root Entry", 5, 1, _ENDOFCHAIN, 0)
        + dirent("Workbook", 2, _NOSTREAM, 2, len(workbook))
        + b"\x00" * 256
    )

    header_b = bytearray(512)
    header_b[0:8] = _CFB_MAGIC
    struct.pack_into("<HHHHH", header_b, 24, 0x003E, 0x0003, 0xFFFE, 9, 6)
    struct.pack_into("<I", header_b, 44, 1)        # one FAT sector
    struct.pack_into("<I", header_b, 48, 1)        # dir starts at sector 1
    struct.pack_into("<I", header_b, 56, 4096)     # mini cutoff
    struct.pack_into("<I", header_b, 60, _ENDOFCHAIN)  # no miniFAT
    struct.pack_into("<I", header_b, 68, _ENDOFCHAIN)  # no DIFAT chain
    struct.pack_into("<I", header_b, 76, 0)        # DIFAT[0] = FAT sector 0
    for i in range(1, 109):
        struct.pack_into("<I", header_b, 76 + 4 * i, _FREESECT)

    with open(path, "wb") as f:
        f.write(bytes(header_b))
        f.write(struct.pack(f"<{len(fat)}I", *fat))
        f.write(directory)
        f.write(workbook)
