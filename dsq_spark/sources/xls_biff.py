"""Legacy .xls (BIFF8 in an OLE2 compound file) — minimal stdlib parser.

The reference reads .xls through excelize (reference go.mod:111; format list
README.md:594-612). No spreadsheet library ships in this environment, so
this module implements the two public specs directly:

  * [MS-CFB]: the OLE2 compound file (FAT / miniFAT sector chains, directory
    entries) — enough to extract the ``Workbook`` (or ``Book``) stream;
  * [MS-XLS]: the BIFF8 record stream — BOUNDSHEET sheet directory, the
    shared string table (SST with CONTINUE records, compressed and UTF-16
    runs restarting at continuation boundaries), and the cell records
    LABELSST / LABEL / NUMBER / RK / MULRK / BOOLERR / FORMULA(+STRING).

Output is a grid (list of {column_index: string}) matching what the xlsx
reader produces, so both routes share ``_grid_to_df`` (first row = header,
all-string cells — SURVEY.md P3 lexical semantics). Number cells render
int-like when integral. Date formatting via XF records is not applied —
date cells surface as raw serial numbers (documented delta vs excelize).
"""

from __future__ import annotations

import struct

_OLE_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF


def _ole_stream(data: bytes, wanted: tuple[str, ...]) -> bytes:
    """Extract one stream from an OLE2 compound file ([MS-CFB])."""
    if data[:8] != _OLE_MAGIC:
        raise ValueError("not an OLE2 compound file")
    sec = 1 << struct.unpack_from("<H", data, 30)[0]
    mini = 1 << struct.unpack_from("<H", data, 32)[0]
    n_fat = struct.unpack_from("<I", data, 44)[0]
    dir_start = struct.unpack_from("<I", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    minifat_start = struct.unpack_from("<I", data, 60)[0]
    difat_start = struct.unpack_from("<I", data, 68)[0]
    n_difat = struct.unpack_from("<I", data, 72)[0]

    def sector(n: int) -> bytes:
        off = 512 + n * sec
        return data[off:off + sec].ljust(sec, b"\0")

    per = sec // 4
    difat = list(struct.unpack_from("<109I", data, 76))
    s = difat_start
    for _ in range(n_difat):
        if s in (_ENDOFCHAIN, _FREESECT):
            break
        vals = struct.unpack(f"<{per}I", sector(s))
        difat.extend(vals[:-1])
        s = vals[-1]
    fat: list[int] = []
    for fs in difat[:n_fat]:
        if fs == _FREESECT:
            continue
        fat.extend(struct.unpack(f"<{per}I", sector(fs)))

    def chain(start: int) -> list[int]:
        out, s, seen = [], start, set()
        while s not in (_ENDOFCHAIN, _FREESECT) and s < len(fat):
            if s in seen:
                raise ValueError("cyclic FAT chain in OLE file")
            seen.add(s)
            out.append(s)
            s = fat[s]
        return out

    dir_data = b"".join(sector(s) for s in chain(dir_start))
    entries = []
    for off in range(0, len(dir_data) - 127, 128):
        e = dir_data[off:off + 128]
        nlen = struct.unpack_from("<H", e, 64)[0]
        if nlen < 2 or nlen > 64:
            continue
        name = e[:nlen - 2].decode("utf-16-le", "ignore")
        typ = e[66]
        start = struct.unpack_from("<I", e, 116)[0]
        size = struct.unpack_from("<Q", e, 120)[0] & 0xFFFFFFFF
        entries.append((name, typ, start, size))
    root = next((e for e in entries if e[1] == 5), None)
    target = next((e for e in entries if e[1] == 2 and e[0].lower() in wanted), None)
    if target is None:
        raise ValueError(f"OLE file has no stream named one of {sorted(wanted)}")
    _, _, start, size = target
    if size >= mini_cutoff:
        return b"".join(sector(s) for s in chain(start))[:size]
    if root is None:
        raise ValueError("OLE file has no root entry for its mini stream")
    ministream = b"".join(sector(s) for s in chain(root[2]))[:root[3]]
    minifat: list[int] = []
    for s in chain(minifat_start):
        minifat.extend(struct.unpack(f"<{per}I", sector(s)))
    out, s, seen = [], start, set()
    while s not in (_ENDOFCHAIN, _FREESECT) and s < len(minifat):
        if s in seen:
            raise ValueError("cyclic miniFAT chain in OLE file")
        seen.add(s)
        out.append(ministream[s * mini:(s + 1) * mini])
        s = minifat[s]
    return b"".join(out)[:size]


# --- BIFF8 records ([MS-XLS]) ---

_BOF = 0x0809
_EOF = 0x000A
_BOUNDSHEET = 0x0085
_SST = 0x00FC
_CONTINUE = 0x003C
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_BOOLERR = 0x0205
_FORMULA = 0x0006
_STRING = 0x0207

_BOOL_ERR_CODES = {0x00: "#NULL!", 0x07: "#DIV/0!", 0x0F: "#VALUE!",
                   0x17: "#REF!", 0x1D: "#NAME?", 0x24: "#NUM!", 0x2A: "#N/A"}


def _records(stream: bytes, pos: int = 0):
    n = len(stream)
    while pos + 4 <= n:
        op, ln = struct.unpack_from("<HH", stream, pos)
        yield op, stream[pos + 4:pos + 4 + ln], pos
        pos += 4 + ln


class _SSTCursor:
    """Reads across an SST record plus its CONTINUE records. Character data
    that straddles a record boundary restarts with a fresh option-flags byte
    ([MS-XLS] 2.5.293); headers and skip-regions do not."""

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.pos = 0

    def _advance(self):
        while self.ci < len(self.chunks) and self.pos >= len(self.chunks[self.ci]):
            self.ci += 1
            self.pos = 0

    def left_in_chunk(self) -> int:
        self._advance()
        if self.ci >= len(self.chunks):
            return 0
        return len(self.chunks[self.ci]) - self.pos

    def raw(self, n: int) -> bytes:
        out = bytearray()
        while n:
            avail = self.left_in_chunk()
            if avail == 0:
                raise ValueError("truncated SST")
            take = min(n, avail)
            out += self.chunks[self.ci][self.pos:self.pos + take]
            self.pos += take
            n -= take
        return bytes(out)

    def u8(self) -> int:
        return self.raw(1)[0]

    def u16(self) -> int:
        return struct.unpack("<H", self.raw(2))[0]

    def u32(self) -> int:
        return struct.unpack("<I", self.raw(4))[0]

    def unistr(self) -> str:
        cch = self.u16()
        flags = self.u8()
        n_rich = self.u16() if flags & 0x08 else 0
        n_phon = self.u32() if flags & 0x04 else 0
        wide = flags & 0x01
        parts: list[str] = []
        remaining = cch
        reading_in = None  # chunk index the current char run started in
        while remaining:
            if self.left_in_chunk() == 0:
                raise ValueError("truncated SST string")
            if reading_in is not None and self.ci != reading_in:
                # char data continued into the next CONTINUE record: a fresh
                # option-flags byte precedes it ([MS-XLS] 2.5.293)
                wide = self.u8() & 0x01
                if self.left_in_chunk() == 0:
                    continue
            reading_in = self.ci
            width = 2 if wide else 1
            take = min(remaining, self.left_in_chunk() // width)
            if take == 0:
                # a wide char split across the boundary cannot occur in
                # well-formed files; skip the stray byte defensively
                self.raw(self.left_in_chunk())
                continue
            data = self.raw(take * width)
            parts.append(data.decode("utf-16-le" if wide else "latin-1"))
            remaining -= take
        self.raw(n_rich * 4 + n_phon)
        return "".join(parts)


def _short_unistr(data: bytes, off: int) -> str:
    """Byte-counted unicode string (sheet names in BOUNDSHEET)."""
    cch = data[off]
    wide = data[off + 1] & 0x01
    if wide:
        return data[off + 2:off + 2 + cch * 2].decode("utf-16-le")
    return data[off + 2:off + 2 + cch].decode("latin-1")


def _long_unistr(data: bytes, off: int) -> str:
    """Self-contained XLUnicodeString (LABEL / STRING records)."""
    cch = struct.unpack_from("<H", data, off)[0]
    wide = data[off + 2] & 0x01
    if wide:
        return data[off + 3:off + 3 + cch * 2].decode("utf-16-le")
    return data[off + 3:off + 3 + cch].decode("latin-1")


def _decode_rk(rk: int) -> float:
    val: float
    if rk & 0x02:  # integer payload
        val = float(rk >> 2 if rk < (1 << 31) else (rk >> 2) - (1 << 30))
    else:  # high 30 bits of an IEEE double
        val = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return val / 100.0 if rk & 0x01 else val


def _fmt_num(v: float) -> str:
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def parse_xls(data: bytes, sheet: str | None = None) -> list[dict[int, str]]:
    """Parse .xls bytes → grid of {column_index: string} rows."""
    stream = _ole_stream(data, ("workbook", "book"))
    shared: list[str] = []
    sheets: list[tuple[str, int]] = []  # (name, stream offset)
    sst_chunks: list[bytes] | None = None
    n_unique = 0
    prev_op = None
    for op, payload, _pos in _records(stream):
        if op == _SST:
            sst_chunks = [payload[8:]]  # skip total/unique counts
            n_unique = struct.unpack_from("<I", payload, 4)[0]
        elif op == _CONTINUE and prev_op in (_SST, _CONTINUE) and sst_chunks:
            sst_chunks.append(payload)
        elif op == _BOUNDSHEET:
            pos = struct.unpack_from("<I", payload, 0)[0]
            sheets.append((_short_unistr(payload, 6), pos))
        elif op == _EOF:
            break  # end of workbook-globals substream
        prev_op = op
    if sst_chunks:
        cur = _SSTCursor(sst_chunks)
        for _ in range(n_unique):
            shared.append(cur.unistr())
    if not sheets:
        raise ValueError("xls workbook has no sheets")
    by_name = dict(sheets)
    name = sheet or sheets[0][0]
    if name not in by_name:
        raise ValueError(f"sheet {name!r} not found; have {sorted(by_name)}")

    cells: dict[tuple[int, int], str] = {}
    pending_formula: tuple[int, int] | None = None
    for op, payload, _pos in _records(stream, by_name[name]):
        if op == _EOF:
            break
        if op == _LABELSST:
            r, c, _xf, isst = struct.unpack_from("<HHHI", payload)
            cells[(r, c)] = shared[isst] if isst < len(shared) else ""
        elif op == _LABEL:
            r, c = struct.unpack_from("<HH", payload)
            cells[(r, c)] = _long_unistr(payload, 6)
        elif op == _NUMBER:
            r, c, _xf = struct.unpack_from("<HHH", payload)
            cells[(r, c)] = _fmt_num(struct.unpack_from("<d", payload, 6)[0])
        elif op == _RK:
            r, c, _xf, rk = struct.unpack_from("<HHHI", payload)
            cells[(r, c)] = _fmt_num(_decode_rk(rk))
        elif op == _MULRK:
            r, c0 = struct.unpack_from("<HH", payload)
            n = (len(payload) - 6) // 6
            for k in range(n):
                rk = struct.unpack_from("<I", payload, 4 + 6 * k + 2)[0]
                cells[(r, c0 + k)] = _fmt_num(_decode_rk(rk))
        elif op == _BOOLERR:
            r, c, _xf, v, is_err = struct.unpack_from("<HHHBB", payload)
            cells[(r, c)] = (_BOOL_ERR_CODES.get(v, f"#ERR{v}") if is_err
                             else ("TRUE" if v else "FALSE"))
        elif op == _FORMULA:
            r, c, _xf = struct.unpack_from("<HHH", payload)
            raw = payload[6:14]
            if raw[6:8] == b"\xff\xff":
                kind = raw[0]
                if kind == 0:  # string result arrives in the next STRING record
                    pending_formula = (r, c)
                elif kind == 1:
                    cells[(r, c)] = "TRUE" if raw[2] else "FALSE"
                elif kind == 2:
                    cells[(r, c)] = _BOOL_ERR_CODES.get(raw[2], f"#ERR{raw[2]}")
                else:  # kind == 3: blank
                    cells[(r, c)] = ""
            else:
                cells[(r, c)] = _fmt_num(struct.unpack("<d", raw)[0])
        elif op == _STRING and pending_formula is not None:
            cells[pending_formula] = _long_unistr(payload, 0)
            pending_formula = None

    if not cells:
        return []
    grid: list[dict[int, str]] = [{} for _ in range(max(k[0] for k in cells) + 1)]
    for (r, c), v in cells.items():
        grid[r][c] = v
    return grid
