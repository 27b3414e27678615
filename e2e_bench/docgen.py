"""Seeded Kepmendagri-shaped documents with their expected CSV rows.

A document is the ``[[page_no, table_no, grid], ...]`` list that
``cli.main --fixture-json`` reads.  Every page holds one area table
(administrative codes and names of one province, in hierarchy order)
and, on some pages, an island table and a table no extractor accepts.
Cells carry the artefacts PDF parsing leaves behind, each with a
known cleaned value: row-number prefixes, wrapped lines, short
wrapped fragments, runs of whitespace, de-spaced headers, names in a
fallback column, continuation rows, codes of no known length, Indonesian
hemisphere letters, smart quotes and unpadded seconds.

The expected rows are built here, from the clean values the
artefacts were applied to, never by running the program's cleaning
code.  Entity order is document order; province codes keep their
first occurrence.
"""

from __future__ import annotations

import random

ENTITIES = ("province", "regency", "district", "village", "island")
#: parent code = this many leading characters of the code
PARENT_LEN = {"regency": 2, "district": 5, "village": 8}

_SYLLABLES = (
    "ba ka la ma na pa ra sa ta wa ja ga da ya tu ri lo mo su ni "
    "ke pe se te bu gu ru lu mu nu si di bi ki pi"
).split()

#: wide (9-column) area table header rows, spaced out like the source
AREA_HEADER_WIDE = [
    ["K O D E", "NAMA PROVINSI / KABUPATEN / KOTA", "JUMLAH", "",
     "N A M A / J U M L A H", "", "", "LUAS WILAYAH (Km2)", "K E T E R A N G A N"],
    ["", "KAB", "KOTA", "KECAMATAN", "KELURAHAN", "D E S A", "", "", ""],
]
#: narrow (6-column) area table header rows: names in column 1 or 3
AREA_HEADER_NARROW = [
    ["K O D E", "NAMA PROVINSI", "JUMLAH", "NAMA", "LUAS", "KET"],
    ["", "", "", "", "", ""],
]
ISLAND_HEADER = [
    "Kode Pulau", "Nama Provinsi, Kabupaten/Kota, Pulau", "Jumlah",
    "Koordinat", "Luas\n2\n(Km )", "BP/TBP", "Keterangan",
]
UNROUTED_HEADER = ["NO", "KODE", "NAMA", "IBUKOTA", "JUMLAH PENDUDUK", "LUAS"]


def _word(rng: random.Random, n_syl: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n_syl)).title()


def _name(rng: random.Random, words: int) -> str:
    return " ".join(_word(rng, rng.randint(2, 4)) for _ in range(words))


def _messy_name(rng: random.Random, clean: str, despace_ok: bool) -> str:
    """A cell text whose cleaned value is ``clean``."""
    words = clean.split(" ")
    roll = rng.random()
    if roll < 0.08:
        return f"{rng.randint(1, 999)} {clean}"  # row-number prefix
    if roll < 0.16 and len(words) >= 2:  # line wrapped at a word boundary
        cut = rng.randint(1, len(words) - 1)
        return " ".join(words[:cut]) + "\n" + " ".join(words[cut:])
    if roll < 0.22 and len(clean) - 2 >= 16 and len(words[-1]) >= 3:
        # a short lowercase fragment wrapped off a long line
        return clean[:-2] + "\n" + clean[-2:]
    if roll < 0.30 and len(words) >= 2:  # runs of whitespace
        return "  " + "   ".join(words) + " "
    if roll < 0.34 and despace_ok and len(words) == 1:
        return " ".join(clean)  # de-spaced letters, "A C E H"
    return clean


def _coordinate(rng: random.Random) -> tuple[str, str]:
    """(cell text, canonical form) of one DMS coordinate pair."""
    lat_d, lat_m = f"{rng.randint(0, 11):02d}", f"{rng.randint(0, 59):02d}"
    lon_d, lon_m = f"{rng.randint(95, 141):03d}", f"{rng.randint(0, 59):02d}"
    lat_s, lon_s = rng.randint(0, 5999), rng.randint(0, 5999)
    lat_h = rng.choice([("U", "N"), ("S", "S"), ("LU", "N"), ("LS", "S")])
    lon_h = rng.choice([("T", "E"), ("B", "W"), ("BT", "E")])

    def secs(hundredths: int) -> tuple[str, str]:
        whole, frac = divmod(hundredths, 100)
        canon = f"{whole:02d}.{frac:02d}"
        roll = rng.random()
        if roll < 0.1 and frac % 10 == 0:
            return f"{whole:02d}.{frac // 10}", canon  # one decimal
        if roll < 0.2:
            return f"{canon}{rng.randint(0, 9)}", canon  # truncated digit
        return canon, canon

    (lat_txt, lat_c), (lon_txt, lon_c) = secs(lat_s), secs(lon_s)
    q1, q2 = ("’", "”") if rng.random() < 0.1 else ("'", '"')
    if rng.random() < 0.1:
        q2 = ""  # missing second-quote
    text = (f"{lat_d}°{lat_m}{q1}{lat_txt}{q2} {lat_h[0]} "
            f"{lon_d}°{lon_m}{q1}{lon_txt}{q2} {lon_h[0]}")
    canon = (f"{lat_d}°{lat_m}'{lat_c}\" {lat_h[1]} "
             f"{lon_d}°{lon_m}'{lon_c}\" {lon_h[1]}")
    return text, canon


def _area_row(rng: random.Random, code: str, level: str, clean: str,
              wide: bool) -> list[str]:
    cell = _messy_name(rng, clean, despace_ok=level == "province")
    if wide:
        row = [code, "", "", "", "", "", "", "", ""]
        # regencies and provinces name column 1; lower levels usually
        # name the kecamatan / kelurahan / desa column
        col = 1 if level in ("province", "regency") else rng.choice([1, 4, 5, 6])
        row[col] = cell
        row[7] = f"{rng.randint(1, 9999)},{rng.randint(0, 999):03d}"
    else:
        row = [code, "", "", "", "", ""]
        row[rng.choice([1, 3])] = cell
    if rng.random() < 0.5:
        row[0] = f" {code} "
    return row


def _area_entries(rng: random.Random, province: str, n: int) -> list[tuple[str, str, str]]:
    """``n`` (level, code, clean name) rows of one province in
    hierarchy order."""
    out = [("province", province, _word(rng, rng.randint(2, 3)).upper())]
    reg = dis = vil = 0
    reg_code = dis_code = ""
    while len(out) < n:
        if not reg_code or rng.random() < 0.04:
            reg += 1
            reg_code = f"{province}.{reg:02d}"
            kind = rng.choice(["Kabupaten", "Kota"])
            out.append(("regency", reg_code, f"{kind} {_name(rng, rng.randint(1, 3))}"))
            dis_code = ""
        elif not dis_code or rng.random() < 0.15:
            dis += 1
            dis_code = f"{reg_code}.{dis % 100:02d}"
            out.append(("district", dis_code, _name(rng, rng.randint(1, 2))))
        else:
            vil += 1
            code = f"{dis_code}.{rng.choice('12')}{vil % 1000:03d}"
            out.append(("village", code, _name(rng, rng.randint(1, 3))))
    return out[:n]


def generate(seed: int, pages: int, rows_per_page: int) -> tuple[list, dict]:
    """Return ``(grids, expected)``.

    ``grids`` is the ``--fixture-json`` payload; ``expected`` maps each
    entity to its CSV data rows (lists of strings, document order).
    """
    rng = random.Random(seed)
    province = f"{rng.randint(11, 94):02d}"
    entries = _area_entries(rng, province, pages * rows_per_page)
    prov_row = entries[0]
    expected: dict[str, list[list[str]]] = {e: [] for e in ENTITIES}
    grids: list = []
    island_no = 0
    for page in range(1, pages + 1):
        wide = rng.random() < 0.8
        grid = [list(r) for r in (AREA_HEADER_WIDE if wide else AREA_HEADER_NARROW)]
        chunk = entries[(page - 1) * rows_per_page: page * rows_per_page]
        if page > 1 and rng.random() < 0.5:
            # a page restating the province: kept once, first seen
            chunk = [prov_row] + chunk
        for level, code, clean in chunk:
            grid.append(_area_row(rng, code, level, clean, wide))
            if level == "province":
                if not expected["province"]:
                    expected["province"].append([code, clean])
            else:
                expected[level].append([code, code[: PARENT_LEN[level]], clean])
            roll = rng.random()
            width = len(grid[0])
            if roll < 0.05:  # continuation row: no code
                grid.append([""] + ["lanjutan"] + [""] * (width - 2))
            elif roll < 0.08:  # code of no known length
                grid.append([code + "9"] + [_name(rng, 1)] + [""] * (width - 2))
            elif roll < 0.10:  # code with no name
                grid.append([code[:2] + ".99"] + [""] * (width - 1))
        grids.append([page, 0, grid])

        if page % 3 == 0:
            island_no, rows = _island_table(rng, province, island_no, rows_per_page // 4 + 1)
            grids.append([page, 1, rows[0]])
            expected["island"].extend(rows[1])
        if page % 4 == 1:
            grids.append([page, 2, [UNROUTED_HEADER] + [
                [str(i), f"{province}.{i:02d}", _name(rng, 2), _name(rng, 1),
                 str(rng.randint(1000, 99999)), str(rng.randint(10, 999))]
                for i in range(1, 4)
            ]])
    return grids, expected


def _island_table(rng: random.Random, province: str, start: int, n: int):
    """An island table of ``n`` islands; returns the next island
    number and ``(grid, expected rows)``."""
    grid = []
    if rng.random() < 0.3:
        grid.append(["DAFTAR PULAU"] + [""] * 6)  # title row above the header
    grid.append(list(ISLAND_HEADER))
    regency = f"{province}.{rng.randint(1, 30):02d}"
    grid.append([regency, f"Kabupaten {_name(rng, 1)}", str(n), "", "", "", ""])
    expected = []
    for _ in range(n):
        start += 1
        reg = regency if rng.random() < 0.9 else f"{province}.00"
        code = f"{reg}.{40000 + start:05d}"
        clean = ("Pulau " if rng.random() < 0.6 else "") + _name(rng, rng.randint(1, 2))
        cell = _messy_name(rng, clean, despace_ok=False)
        coord_text, coord = _coordinate(rng)
        status = rng.choice(["BP", "TBP", "tbp", "bp "])
        info = rng.choice(["", "", "-", "(PPKT)", "PPKT"])
        grid.append([code, cell, "", coord_text, f"0,{rng.randint(1, 9999)}", status, info])
        expected.append([
            code,
            "" if reg.endswith(".00") else reg,
            coord,
            "1" if status.strip().upper() == "BP" else "0",
            "1" if "PPKT" in info else "0",
            clean,
        ])
    return start, (grid, expected)
