"""CLI end-to-end + streaming micro-batch pipeline tests."""

from __future__ import annotations

import csv
import json
from collections import Counter
from pathlib import Path

from idn_area_etl_spark.cli import build_parser, main, validate_args
from idn_area_etl_spark.sources.pdf import parse_page_range, validate_page_range
from idn_area_etl_spark.sources.raw import raw_from_cell_grids
from idn_area_etl_spark.streaming import run_micro_batch_pipeline

AREA_GRID = [
    ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
    ["", "", "", "", "", "", ""],
    ["11", "Aceh", "", "", "", "", ""],
    ["11.01", "Kabupaten Aceh Selatan", "", "", "", "", ""],
    ["11.01.01", "1 Bakongan", "", "", "", "", ""],
]

#: coordinates carry '"' seconds marks, which CSV sinks must quote
ISLAND_GRID = [
    ["Kode Pulau", "Nama Provinsi, Kabupaten/Kota, Pulau", "Jumlah",
     "Koordinat", "Luas\n2\n(Km )", "BP/TBP", "Keterangan"],
    ["11.01", "Kabupaten Aceh Selatan", "6", "", "", "", ""],
    ["11.01.40001", "Pulau Batukapal", "", "03°19'03.44\" U 097°07'41.73\" T",
     "0.0006", "TBP", ""],
    ["11.06.40007", "Pulau Bateeleblah", "", "05°47'34.72\" U 094°58'26.09\" T",
     "0.0080", "TBP", "(PPKT)"],
]


def test_page_range_helpers():
    assert validate_page_range("1-4,6")
    assert not validate_page_range("1-,6")
    assert not validate_page_range("abc")
    assert parse_page_range("1-4,6,4", 5) == [1, 2, 3, 4]
    assert parse_page_range("2", 5) == [2]


def test_cli_validation_failures(tmp_path: Path, capsys):
    parser = build_parser()
    not_pdf = parser.parse_args([str(tmp_path / "x.txt")])
    assert "must be a .pdf" in validate_args(not_pdf)
    bad_pages = parser.parse_args(["x.pdf", "--pages", "1-"])
    assert "invalid page range" in validate_args(bad_pages)
    # reference spelling --range/-r (reference cli.py:98) maps to pages
    assert parser.parse_args(["x.pdf", "-r", "1-4,6"]).pages == "1-4,6"
    assert parser.parse_args(["x.pdf", "--range", "2"]).pages == "2"
    bad_name = parser.parse_args(["x.pdf", "--output", "bad name!"])
    assert "invalid output name" in validate_args(bad_name)
    file_dest = tmp_path / "afile"
    file_dest.write_text("x")
    bad_dest = parser.parse_args(["x.pdf", "-d", str(file_dest)])
    assert "not a directory" in validate_args(bad_dest)
    for size in ("0", "-2"):
        bad_chunk = parser.parse_args(["x.pdf", "-c", size])
        assert "chunk size must be at least 1" in validate_args(bad_chunk)
        assert main(["x.pdf", "-d", str(tmp_path), "-c", size]) == 1
        assert "error: chunk size must be at least 1" in capsys.readouterr().err


def test_cli_end_to_end_with_fixture(spark, tmp_path: Path):
    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps([[1, 0, AREA_GRID]]))
    dest = tmp_path / "out"
    rc = main([
        "doc.pdf", "-d", str(dest), "-o", "doc",
        "--fixture-json", str(fixture),
    ])
    assert rc == 0
    assert (dest / "doc.province.csv").read_bytes() == b"code,name\r\n11,Aceh\r\n"
    assert "11.01.01,11.01,Bakongan" in (dest / "doc.district.csv").read_text()


def test_cli_output_does_not_depend_on_chunk_size(spark, tmp_path: Path):
    """Province 11 restated on page 2 is written once whether the pages
    are read as one chunk or two (reference keeps one seen-provinces
    set per run, extractors.py:110-112); regencies are not deduped, so
    each page keeps its regency row."""
    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps([[1, 0, AREA_GRID], [2, 0, AREA_GRID]]))
    written = {}
    for size in ("1", "2"):
        dest = tmp_path / f"c{size}"
        rc = main([
            "doc.pdf", "-d", str(dest), "-o", "doc", "-c", size,
            "--fixture-json", str(fixture),
        ])
        assert rc == 0
        written[size] = {f.name: f.read_bytes() for f in sorted(dest.iterdir())}
    assert written["1"] == written["2"]
    assert written["1"]["doc.province.csv"] == b"code,name\r\n11,Aceh\r\n"
    regencies = written["1"]["doc.regency.csv"].decode().splitlines()[1:]
    assert regencies == ["11.01,11,Kabupaten Aceh Selatan"] * 2


def test_cli_distributed_matches_exact_rows(spark, tmp_path: Path):
    """``--distributed`` writes one directory of part files per entity;
    read back, their rows are the exact-mode CSV's rows."""
    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps(
        [[1, 0, AREA_GRID], [2, 0, AREA_GRID], [2, 1, ISLAND_GRID]]
    ))
    exact, dist = tmp_path / "exact", tmp_path / "dist"
    for dest, extra in ((exact, []), (dist, ["--distributed"])):
        rc = main([
            "doc.pdf", "-d", str(dest), "-o", "doc",
            "--fixture-json", str(fixture), *extra,
        ])
        assert rc == 0
    exact_files = sorted(f.name for f in exact.iterdir())
    assert sorted(f.name for f in dist.iterdir()) == exact_files
    for name in exact_files:
        with open(exact / name, newline="", encoding="utf-8") as fh:
            header, *expected = list(csv.reader(fh))
        parts = sorted((dist / name).glob("part-*.csv"))
        assert parts, name
        got = []
        for part in parts:
            with open(part, newline="", encoding="utf-8") as fh:
                part_header, *rows = list(csv.reader(fh))
            assert part_header == header, part
            got += rows
        assert Counter(map(tuple, got)) == Counter(map(tuple, expected)), name


def test_cli_zero_rows_exits_1(spark, tmp_path: Path):
    fixture = tmp_path / "empty.json"
    fixture.write_text(json.dumps([[1, 0, [["NO", "DATA"], ["1", "x"]]]]))
    rc = main([
        "doc.pdf", "-d", str(tmp_path / "out2"),
        "--fixture-json", str(fixture),
    ])
    assert rc == 1


def test_streaming_micro_batches_dedup_across_chunks(spark, tmp_path: Path):
    chunk1 = [
        (1, 0, AREA_GRID),
    ]
    chunk2 = [
        (2, 0, [
            ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
            ["", "", "", "", "", "", ""],
            ["11", "Aceh Duplikat", "", "", "", "", ""],   # dup across chunks
            ["12", "Sumatera Utara", "", "", "", "", ""],
        ]),
    ]
    in_dir = tmp_path / "raw_stream"
    in_dir.mkdir()
    raw_from_cell_grids(spark, chunk1).coalesce(1).write.parquet(
        str(in_dir / "chunk1.parquet")
    )
    raw_from_cell_grids(spark, chunk2).coalesce(1).write.parquet(
        str(in_dir / "chunk2.parquet")
    )
    counts = run_micro_batch_pipeline(
        spark, str(in_dir / "*" ), str(tmp_path / "out")
    )
    assert counts["province"] == 2        # '11' deduped across chunks
    assert counts["regency"] == 1
    assert counts["district"] == 1
    provinces = {
        r["code"]: r["name"]
        for r in spark.read.parquet(str(tmp_path / "out" / "province")).collect()
    }
    assert provinces == {"11": "Aceh", "12": "Sumatera Utara"}


# ---------------------------------------------------------------------------
# Graceful SIGINT shutdown (reference cli.py:26-37, test_cli.py:401-508)
# ---------------------------------------------------------------------------


def test_handle_sigint_sets_flag_and_echoes_in_main_pid(monkeypatch, capsys):
    import os
    import signal as _signal

    from idn_area_etl_spark import cli as cli_mod

    cli_mod.interrupted = False
    monkeypatch.setattr(os, "getpid", lambda: cli_mod.MAIN_PID)
    try:
        cli_mod.handle_sigint(_signal.SIGINT, None)
        assert cli_mod.interrupted is True
        assert "Aborted by user" in capsys.readouterr().out
    finally:
        cli_mod.interrupted = False


def test_handle_sigint_other_pid_sets_flag_silently(monkeypatch, capsys):
    import os
    import signal as _signal

    from idn_area_etl_spark import cli as cli_mod

    cli_mod.interrupted = False
    monkeypatch.setattr(os, "getpid", lambda: cli_mod.MAIN_PID + 1)
    try:
        cli_mod.handle_sigint(_signal.SIGINT, None)
        assert cli_mod.interrupted is True
        assert capsys.readouterr().out == ""
    finally:
        cli_mod.interrupted = False


def test_extract_breaks_on_interrupt_and_flushes_partial(
    spark, tmp_path: Path, monkeypatch
):
    """Flag flipped during chunk 1 of 4 -> exactly one chunk ingested,
    its rows flushed, summary printed, exit 0 (reference
    test_extract_breaks_on_interrupt_branch)."""
    from idn_area_etl_spark import cli as cli_mod

    fixture = tmp_path / "tables.json"
    fixture.write_text(
        json.dumps([[p, 0, AREA_GRID] for p in (1, 2, 3, 4)])
    )
    calls = {"n": 0}
    real = cli_mod.raw_from_cell_grids

    def flip_after_first(spark_, grids):
        calls["n"] += 1
        if calls["n"] == 1:
            cli_mod.interrupted = True
        return real(spark_, grids)

    cli_mod.interrupted = False
    monkeypatch.setattr(cli_mod, "raw_from_cell_grids", flip_after_first)
    dest = tmp_path / "out"
    try:
        rc = cli_mod.main([
            "doc.pdf", "-d", str(dest), "-o", "x", "-c", "1",
            "--fixture-json", str(fixture),
        ])
    finally:
        cli_mod.interrupted = False
    assert calls["n"] == 1, "expected the loop to break after chunk 1"
    assert rc == 0
    assert (dest / "x.province.csv").read_bytes() == b"code,name\r\n11,Aceh\r\n"


def test_interrupt_before_first_chunk_writes_headers_and_exits_1(
    spark, tmp_path: Path
):
    from idn_area_etl_spark import cli as cli_mod

    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps([[1, 0, AREA_GRID]]))
    dest = tmp_path / "out"
    cli_mod.interrupted = True
    try:
        rc = cli_mod.main([
            "doc.pdf", "-d", str(dest), "-o", "x",
            "--fixture-json", str(fixture),
        ])
    finally:
        cli_mod.interrupted = False
    assert rc == 1
    assert (dest / "x.province.csv").read_bytes() == b"code,name\r\n"


# ---------------------------------------------------------------------------
# --version flag (reference test_cli.py:510-541)
# ---------------------------------------------------------------------------


def test_version_prints_and_exits_zero(capsys, monkeypatch):
    from idn_area_etl_spark import cli as cli_mod

    monkeypatch.setattr(cli_mod, "version_string", lambda: "1.2.3")
    rc = cli_mod.main(["--version"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "1.2.3" in out and cli_mod.PACKAGE_NAME in out


def test_version_missing_exits_one(capsys, monkeypatch):
    from idn_area_etl_spark import cli as cli_mod

    def boom():
        raise RuntimeError("not installed")

    monkeypatch.setattr(cli_mod, "version_string", boom)
    rc = cli_mod.main(["--version"])
    assert rc == 1
    assert "Version information not available" in capsys.readouterr().out
