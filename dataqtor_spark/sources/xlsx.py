"""Distributed xlsx ingestion — the scale path for the reference's Excel
upload (S1, /root/reference/home.py:55-62, a driver-side
``pd.read_excel``).

xlsx is a zip of XML, so no external library is needed to READ one:
``_parse_xlsx_bytes`` is a pure-stdlib (zipfile + ElementTree) cell
extractor covering the storage model that matters for tabular ingest —
shared strings, inline strings, formula cached values, numbers, booleans.
``read_excel_distributed`` runs it INSIDE ``mapInPandas`` over Spark's
``binaryFile`` source: one task per workbook, so a directory of ten
thousand uploads parses cluster-wide with zero driver involvement.

Scale contract and limits (documented, not hidden):
- parallelism is per FILE — a single xlsx is a zip and cannot be split,
  so one giant workbook is one task (convert to parquet/csv for that
  shape; this reader is for the many-small-uploads fleet);
- every cell surfaces as a STRING column first; the caller's DDL schema
  is applied with ``try_cast`` (malformed cells → NULL, the PERMISSIVE
  csv contract) — xlsx dates arrive as Excel serial numbers, so name
  those fields in ``date_serial_cols`` to convert during ingest
  (``date_add(DATE '1899-12-30', serial)`` / its seconds form);
- styles, merged regions, charts and macros are out of scope (openpyxl
  on the driver via ``session.ingest`` remains the full-fidelity path
  for small files).
"""

from __future__ import annotations

import io
import re
import sys
import zipfile
from xml.etree import ElementTree as ET

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ``read_excel_distributed``'s mapInPandas function calls the parser
# below on the executors; pickled by value, it needs no import of
# ``dataqtor_spark`` there, whatever the workers' cwd or sys.path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(cell_ref: str | None, fallback: int) -> int:
    """'B7' → 1; xlsx omits the r attribute on unreferenced cells, in
    which case the cell lands after the previous one (``fallback``)."""
    if not cell_ref:
        return fallback
    letters = "".join(ch for ch in cell_ref if ch.isalpha())
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1 if idx else fallback


_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RID_NS = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships}")


def _sheet_parts_in_workbook_order(z: zipfile.ZipFile,
                                   names: list[str]) -> list[str]:
    """Worksheet part paths in the WORKBOOK's sheet order: xl/workbook.xml
    lists <sheet> elements in display order, each pointing via r:id into
    xl/_rels/workbook.xml.rels.  Filename numbering (sheetN.xml) is only a
    creation artifact — a workbook whose sheets were reordered after
    creation keeps the original part names, so ``sheet_index=0`` by
    filename can pick a different sheet than pandas/openpyxl do.  Falls
    back to filename order when either XML part is missing/malformed."""
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        targets = {r.get("Id"): r.get("Target")
                   for r in rels.findall(f"{_REL_NS}Relationship")}
        out = []
        for sh in wb.find(f"{_NS}sheets").findall(f"{_NS}sheet"):
            tgt = targets[sh.get(f"{_RID_NS}id")]
            tgt = tgt.lstrip("/")
            if not tgt.startswith("xl/"):
                tgt = "xl/" + tgt
            out.append(tgt)
        if out and all(t in names for t in out):
            return out
    except Exception:
        pass
    return sorted(
        (n for n in names if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
        key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[1]).group()))


def _parse_xlsx_bytes(data: bytes, sheet_index: int = 0) -> list[list]:
    """All rows of one worksheet as lists of (string | None) cell values,
    row-major, ragged rows padded to their own width."""
    z = zipfile.ZipFile(io.BytesIO(data))
    names = z.namelist()

    shared: list[str] = []
    if "xl/sharedStrings.xml" in names:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
        for si in root.findall(f"{_NS}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))

    sheets = _sheet_parts_in_workbook_order(z, names)
    if sheet_index >= len(sheets):
        raise IndexError(f"sheet {sheet_index} of {len(sheets)}")
    root = ET.fromstring(z.read(sheets[sheet_index]))

    rows: list[list] = []
    for row in root.iter(f"{_NS}row"):
        cells: dict[int, str | None] = {}
        nxt = 0
        for c in row.findall(f"{_NS}c"):
            col = _col_index(c.get("r"), nxt)
            nxt = col + 1
            t = c.get("t")
            v = c.find(f"{_NS}v")
            if t == "s":
                cells[col] = shared[int(v.text)] if v is not None else None
            elif t == "inlineStr":
                is_el = c.find(f"{_NS}is")
                cells[col] = ("".join(tt.text or ""
                                      for tt in is_el.iter(f"{_NS}t"))
                              if is_el is not None else None)
            else:
                # n (number, default), str (formula cache), b (boolean)
                cells[col] = v.text if v is not None else None
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i) for i in range(width)])
    return rows


def read_excel_distributed(spark: SparkSession, path: str, schema: str,
                           header: bool = True,
                           sheet_index: int = 0,
                           date_serial_cols: list[str] | None = None
                           ) -> DataFrame:
    """Read one xlsx file or a glob/directory of them into a typed
    DataFrame, parsing on the EXECUTORS (binaryFile → mapInPandas).

    ``schema`` is a DDL string (required: executors can't coordinate
    inference, same rationale as streaming sources).  With ``header``,
    columns are matched to schema fields BY NAME from each file's first
    row — files may order columns differently; a file missing a field
    yields NULLs for it.  Without ``header``, cells map to schema fields
    positionally.  Types are applied with ``try_cast`` (malformed →
    NULL).

    ``date_serial_cols`` names schema fields stored as Excel DATE SERIAL
    numbers (days since 1899-12-30, time as the day fraction — how xlsx
    stores every date cell): they convert via
    ``date_add(DATE '1899-12-30', serial)`` for date fields and the
    seconds-equivalent for timestamp fields, instead of the raw
    try_cast (which would NULL them).
    """
    import pandas as pd

    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema).fields
    names = [f.name for f in fields]
    raw_schema = ", ".join(f"`{n}` string" for n in names)

    def gen(batches):
        for pdf in batches:
            out: dict[str, list] = {n: [] for n in names}
            for content in pdf["content"]:
                rows = _parse_xlsx_bytes(bytes(content), sheet_index)
                if not rows:
                    continue
                if header:
                    hdr = [str(h) if h is not None else "" for h in rows[0]]
                    pos = {n: (hdr.index(n) if n in hdr else None)
                           for n in names}
                    body = rows[1:]
                else:
                    pos = {n: i for i, n in enumerate(names)}
                    body = rows
                for r in body:
                    for n in names:
                        p = pos[n]
                        out[n].append(
                            r[p] if p is not None and p < len(r) else None)
            yield pd.DataFrame({n: pd.Series(out[n], dtype="object")
                                for n in names})

    raw = (spark.read.format("binaryFile").load(path)
           .select("content").mapInPandas(gen, raw_schema))
    serial = set(date_serial_cols or [])
    unknown = serial - set(names)
    if unknown:
        raise ValueError(f"date_serial_cols not in schema: {sorted(unknown)}")
    cols = []
    for f in fields:
        t = f.dataType.simpleString()
        if f.name in serial and t.startswith("timestamp"):
            # day fraction carries the time of day; rounding to whole
            # seconds matches Excel's own display precision
            cols.append(F.expr(
                f"try_cast(timestampadd(SECOND, "
                f"cast(round(try_cast(`{f.name}` AS double) * 86400) "
                f"AS bigint), TIMESTAMP '1899-12-30 00:00:00') AS {t})"
            ).alias(f.name))
        elif f.name in serial:
            cols.append(F.expr(
                f"try_cast(date_add(DATE '1899-12-30', "
                f"try_cast(try_cast(`{f.name}` AS double) AS int)) AS {t})"
            ).alias(f.name))
        else:
            cols.append(F.expr(f"try_cast(`{f.name}` AS {t})").alias(f.name))
    return raw.select(*cols)
