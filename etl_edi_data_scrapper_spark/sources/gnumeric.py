"""Minimal Gnumeric (``.gnumeric``) reader — gzipped XML, the one remaining
format in PhpSpreadsheet's auto-detect matrix (`ExcelInputHandler.php:
108-116`; IOFactory includes a Gnumeric reader).

Cell substance: ``gnm:Cell`` elements with ``Row``/``Col`` attributes
(0-based) and a ``ValueType`` (60 = string, 40 = float, 20 = boolean); the
cell's text content is the value. Numbers go through the shared ``_fmt_num``
display rule; all values surface as strings (engine-wide contract).
"""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET

from etl_edi_data_scrapper_spark.sources.biff import _fmt_num

_GNM = "{http://www.gnumeric.org/v10.dtd}"


def read_gnumeric_grid(path: str, sheet_name: str | None = None) -> dict[int, dict[int, str]]:
    """.gnumeric file → {row: {col: text}} for one sheet (named, else first)."""
    with gzip.open(path, "rb") as fh:
        root = ET.fromstring(fh.read())
    sheets = list(root.iter(f"{_GNM}Sheet"))
    if not sheets:
        raise ValueError(f"no sheets in {path!r}")
    if sheet_name is not None:
        by_name = {
            (s.findtext(f"{_GNM}Name") or ""): s for s in sheets
        }
        if sheet_name not in by_name:
            raise ValueError(f"sheet {sheet_name!r} not found in workbook")
        sheet = by_name[sheet_name]
    else:
        sheet = sheets[0]
    grid: dict[int, dict[int, str]] = {}
    for cell in sheet.iter(f"{_GNM}Cell"):
        r = int(cell.get("Row", "0"))
        c = int(cell.get("Col", "0"))
        vt = cell.get("ValueType")
        text = cell.text or ""
        if vt == "40":  # float
            try:
                text = _fmt_num(float(text))
            except (ValueError, OverflowError):  # malformed / 1e999 → inf
                pass
        elif vt == "20":  # boolean
            text = text.upper()
        if text != "":
            grid.setdefault(r, {})[c] = text
    return grid


def write_minimal_gnumeric(
    path: str, rows: list[list[str | float | None]], sheet_name: str = "Sheet1"
) -> None:
    """Fixture generator (tests only): one-sheet gzipped workbook XML."""

    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    cells = []
    for r, row in enumerate(rows):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, str):
                cells.append(
                    f'<gnm:Cell Row="{r}" Col="{c}" ValueType="60">{esc(v)}</gnm:Cell>'
                )
            else:
                cells.append(
                    f'<gnm:Cell Row="{r}" Col="{c}" ValueType="40">{float(v)!r}</gnm:Cell>'
                )
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<gnm:Workbook xmlns:gnm="http://www.gnumeric.org/v10.dtd">'
        "<gnm:Sheets><gnm:Sheet>"
        f"<gnm:Name>{esc(sheet_name)}</gnm:Name>"
        f"<gnm:Cells>{''.join(cells)}</gnm:Cells>"
        "</gnm:Sheet></gnm:Sheets></gnm:Workbook>"
    )
    with gzip.open(path, "wb") as fh:
        fh.write(xml.encode("utf-8"))
