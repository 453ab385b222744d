"""Legacy .xls (BIFF8/OLE2) reader — fixtures are generated here from the
public [MS-CFB]/[MS-XLS] specs (no spreadsheet library in this container),
covering both OLE storage paths (mini stream < 4096 bytes, FAT stream
above), SST CONTINUE splits with a compressed→UTF-16 flags restart, and
every cell record kind the reader supports."""

import struct

import pytest

from dsq_spark.sources import read_file
from dsq_spark.sources.xls_biff import parse_xls

FREESECT, ENDOFCHAIN, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD


# --- OLE2 writer ---

def _pad(b: bytes, n: int) -> bytes:
    return b + b"\0" * (-len(b) % n)


def _dirent(name: str, typ: int, start: int, size: int,
            child: int = FREESECT) -> bytes:
    nm = name.encode("utf-16-le") + b"\0\0"
    e = bytearray(128)
    e[0:len(nm)] = nm
    struct.pack_into("<H", e, 64, len(nm))
    e[66] = typ
    e[67] = 1
    struct.pack_into("<III", e, 68, FREESECT, FREESECT, child)
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<Q", e, 120, size)
    return bytes(e)


def _header(n_fat: int, dir_start: int, minifat_start: int, n_minifat: int,
            difat: list[int]) -> bytes:
    h = bytearray(512)
    h[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<HHH", h, 24, 0x003E, 0x0003, 0xFFFE)
    struct.pack_into("<HH", h, 30, 9, 6)
    struct.pack_into("<I", h, 44, n_fat)
    struct.pack_into("<I", h, 48, dir_start)
    struct.pack_into("<I", h, 56, 4096)
    struct.pack_into("<II", h, 60, minifat_start, n_minifat)
    struct.pack_into("<II", h, 68, ENDOFCHAIN, 0)
    struct.pack_into("<109I", h, 76, *(difat + [FREESECT] * (109 - len(difat))))
    return bytes(h)


def _ole(stream: bytes, name: str = "Workbook") -> bytes:
    SEC, MINI = 512, 64
    per = SEC // 4
    if len(stream) < 4096:
        ministream = _pad(stream, MINI)
        n_mini = len(ministream) // MINI
        mini_regular = _pad(ministream, SEC)
        n_mini_reg = len(mini_regular) // SEC
        minifat = [i + 1 for i in range(n_mini - 1)] + [ENDOFCHAIN]
        assert len(minifat) <= per
        minifat += [FREESECT] * (per - len(minifat))
        # sectors: 0=FAT 1=dir 2=miniFAT 3..=ministream
        fat = [FATSECT, ENDOFCHAIN, ENDOFCHAIN]
        for i in range(n_mini_reg):
            fat.append(ENDOFCHAIN if i == n_mini_reg - 1 else 4 + i)
        fat += [FREESECT] * (per - len(fat))
        dirsec = _pad(_dirent("Root Entry", 5, 3, n_mini * MINI, child=1)
                      + _dirent(name, 2, 0, len(stream)), SEC)
        return (_header(1, 1, 2, 1, [0])
                + struct.pack(f"<{per}I", *fat) + dirsec
                + struct.pack(f"<{per}I", *minifat) + mini_regular)
    sdata = _pad(stream, SEC)
    n_s = len(sdata) // SEC
    n_fat = 1
    while n_fat + 1 + n_s > n_fat * per:
        n_fat += 1
    start = n_fat + 1
    fat = [FATSECT] * n_fat + [ENDOFCHAIN]
    for i in range(n_s):
        fat.append(ENDOFCHAIN if i == n_s - 1 else start + i + 1)
    fat += [FREESECT] * (n_fat * per - len(fat))
    dirsec = _pad(_dirent("Root Entry", 5, ENDOFCHAIN, 0, child=1)
                  + _dirent(name, 2, start, len(stream)), SEC)
    return (_header(n_fat, n_fat, ENDOFCHAIN, 0, list(range(n_fat)))
            + struct.pack(f"<{n_fat * per}I", *fat) + dirsec + sdata)


# --- BIFF8 writer ---

def _rec(op: int, payload: bytes) -> bytes:
    return struct.pack("<HH", op, len(payload)) + payload


def _bof(dt: int) -> bytes:
    return _rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0))


def _sst(strings: list[str]) -> bytes:
    payload = struct.pack("<II", len(strings), len(strings))
    for s in strings:
        wide = any(ord(ch) > 255 for ch in s)
        payload += struct.pack("<HB", len(s), 1 if wide else 0)
        payload += s.encode("utf-16-le" if wide else "latin-1")
    return _rec(0x00FC, payload)


def _labelsst(r, c, i):
    return _rec(0x00FD, struct.pack("<HHHI", r, c, 0, i))


def _label(r, c, s):
    return _rec(0x0204, struct.pack("<HHH", r, c, 0)
                + struct.pack("<HB", len(s), 0) + s.encode("latin-1"))


def _number(r, c, v):
    return _rec(0x0203, struct.pack("<HHHd", r, c, 0, v))


def _rk_int(r, c, v, div100=False):
    rk = ((v & 0x3FFFFFFF) << 2) | 2 | (1 if div100 else 0)
    return _rec(0x027E, struct.pack("<HHHI", r, c, 0, rk))


def _rk_dbl(r, c, v):
    bits = struct.unpack("<Q", struct.pack("<d", v))[0]
    return _rec(0x027E, struct.pack("<HHHI", r, c, 0, (bits >> 32) & 0xFFFFFFFC))


def _mulrk(r, c0, values):
    body = struct.pack("<HH", r, c0)
    for v in values:
        body += struct.pack("<HI", 0, ((v & 0x3FFFFFFF) << 2) | 2)
    return _rec(0x00BD, body + struct.pack("<H", c0 + len(values) - 1))


def _boolerr(r, c, v, is_err=False):
    return _rec(0x0205, struct.pack("<HHHBB", r, c, 0, v, int(is_err)))


def _formula_num(r, c, v):
    return _rec(0x0006, struct.pack("<HHHd", r, c, 0, v)
                + struct.pack("<HIH", 0, 0, 0))


def _formula_str(r, c, s):
    return (_rec(0x0006, struct.pack("<HHH", r, c, 0)
                 + b"\x00\x00\x00\x00\x00\x00\xff\xff"
                 + struct.pack("<HIH", 0, 0, 0))
            + _rec(0x0207, struct.pack("<HB", len(s), 0) + s.encode("latin-1")))


def _workbook(sheets: dict[str, bytes], sst: bytes = b"") -> bytes:
    parts = [_bof(0x0005)]
    offsets = []
    for n in sheets:
        offsets.append(sum(len(p) for p in parts) + 4)
        parts.append(_rec(0x0085, struct.pack("<IH", 0, 0)
                          + bytes([len(n), 0]) + n.encode("latin-1")))
    if sst:
        parts.append(sst)
    parts.append(_rec(0x000A, b""))
    g = bytearray(b"".join(parts))
    pos = len(g)
    bodies = []
    for i, recs in enumerate(sheets.values()):
        struct.pack_into("<I", g, offsets[i], pos)
        body = _bof(0x0010) + recs + _rec(0x000A, b"")
        bodies.append(body)
        pos += len(body)
    return bytes(g) + b"".join(bodies)


def _fixture_bytes() -> bytes:
    strings = ["name", "score", "José", "naïve €uro"]
    sheet1 = (
        _labelsst(0, 0, 0) + _labelsst(0, 1, 1) + _label(0, 2, "flag")
        + _labelsst(1, 0, 2) + _number(1, 1, 2.5) + _boolerr(1, 2, 1)
        + _labelsst(2, 0, 3) + _rk_int(2, 1, -42) + _boolerr(2, 2, 0)
        + _label(3, 0, "inline") + _rk_int(3, 1, 1025, div100=True)
        + _boolerr(3, 2, 0x07, is_err=True)
        + _label(4, 0, "calc") + _formula_num(4, 1, 7.0)
        + _formula_str(4, 2, "fstr")
    )
    sheet2 = (_label(0, 0, "a") + _label(0, 1, "b")
              + _mulrk(1, 0, [10, 20]) + _rk_dbl(2, 0, 2.5) + _number(2, 1, 9))
    return _workbook({"Sheet1": sheet1, "People": sheet2}, _sst(strings))


def test_parse_xls_mini_stream_all_record_kinds():
    data = _ole(_fixture_bytes())
    assert len(_fixture_bytes()) < 4096  # exercises the miniFAT path
    grid = parse_xls(data)
    assert grid[0] == {0: "name", 1: "score", 2: "flag"}
    assert grid[1] == {0: "José", 1: "2.5", 2: "TRUE"}
    assert grid[2] == {0: "naïve €uro", 1: "-42", 2: "FALSE"}
    assert grid[3] == {0: "inline", 1: "10.25", 2: "#DIV/0!"}
    assert grid[4] == {0: "calc", 1: "7", 2: "fstr"}
    grid2 = parse_xls(data, "People")
    assert grid2[1] == {0: "10", 1: "20"}
    assert grid2[2] == {0: "2.5", 1: "9"}
    with pytest.raises(ValueError, match="not found"):
        parse_xls(data, "Nope")


def test_parse_xls_fat_stream_path():
    # pad with enough rows that the workbook stream exceeds the 4096-byte
    # mini cutoff → stored via regular FAT chains
    rows = _label(0, 0, "v") + b"".join(_number(r, 0, r) for r in range(1, 400))
    wb = _workbook({"Big": rows})
    assert len(wb) >= 4096
    grid = parse_xls(_ole(wb))
    assert grid[0] == {0: "v"}
    assert grid[1] == {0: "1"} and grid[399] == {0: "399"}


def test_sst_continue_with_flags_restart():
    # one 80-char string: 30 compressed chars in the SST record, the rest as
    # UTF-16 in a CONTINUE that restarts the option-flags byte
    part1, part2 = "x" * 30, "€" * 50
    s = part1 + part2
    sst = _rec(0x00FC, struct.pack("<II", 1, 1)
               + struct.pack("<HB", len(s), 0) + part1.encode("latin-1"))
    cont = _rec(0x003C, b"\x01" + part2.encode("utf-16-le"))
    wb_parts = [_bof(0x0005)]
    wb_parts.append(_rec(0x0085, struct.pack("<IH", 0, 0) + bytes([2, 0]) + b"S1"))
    wb_parts.append(sst)
    wb_parts.append(cont)
    wb_parts.append(_rec(0x000A, b""))
    g = bytearray(b"".join(wb_parts))
    struct.pack_into("<I", g, len(_bof(0x0005)) + 4, len(g))
    body = _bof(0x0010) + _labelsst(0, 0, 0) + _labelsst(1, 0, 0) + _rec(0x000A, b"")
    grid = parse_xls(_ole(bytes(g) + body))
    assert grid[1] == {0: s}


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _cell = st.one_of(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), min_codepoint=32, max_codepoint=0x2FFF),
            min_size=0, max_size=40),
        st.integers(min_value=-(2 ** 29), max_value=2 ** 29 - 1),
        st.floats(allow_nan=False, allow_infinity=False,
                  min_value=-1e12, max_value=1e12),
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.lists(_cell, min_size=1, max_size=5), min_size=1, max_size=8))
    def test_xls_roundtrip_property(rows):
        width = max(len(r) for r in rows)
        strings, recs = [], b""
        expected = []
        for r, row in enumerate(rows):
            exp_row = {}
            for c, v in enumerate(row):
                if isinstance(v, str):
                    strings.append(v)
                    recs += _labelsst(r, c, len(strings) - 1)
                    exp_row[c] = v
                elif isinstance(v, int):
                    recs += _rk_int(r, c, v)
                    exp_row[c] = str(v)
                else:
                    recs += _number(r, c, v)
                    exp_row[c] = (str(int(v)) if v == int(v) and abs(v) < 1e15
                                  else repr(v))
            expected.append(exp_row)
        data = _ole(_workbook({"P": recs}, _sst(strings) if strings else b""))
        assert parse_xls(data) == expected
except ImportError:  # pragma: no cover
    pass


def test_read_file_xls_end_to_end(spark, tmp_path):
    p = tmp_path / "legacy.xls"
    p.write_bytes(_ole(_fixture_bytes()))
    df = read_file(spark, str(p))
    assert sorted(df.columns) == ["flag", "name", "score"]
    rows = {r["name"]: (r["score"], r["flag"]) for r in df.collect()}
    assert rows["José"] == ("2.5", "TRUE")
    assert rows["inline"] == ("10.25", "#DIV/0!")
    assert rows["calc"] == ("7", "fstr")
    # sheet selection through the {N, "sheet"} path
    df2 = read_file(spark, str(p), doc_path="People")
    assert sorted(df2.columns) == ["a", "b"]
    assert {tuple(r) for r in df2.collect()} == {("10", "20"), ("2.5", "9")}


def test_cli_query_over_xls(spark, tmp_path, capsys):
    from dsq_spark import cli

    p = tmp_path / "q.xls"
    p.write_bytes(_ole(_fixture_bytes()))
    rc = cli.run([str(p), "SELECT COUNT(1) AS n FROM {} WHERE flag = 'TRUE'"], spark)
    assert rc == 0
    import json

    assert json.loads(capsys.readouterr().out) == [{"n": 1}]
