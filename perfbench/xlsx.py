"""Minimal, deterministic OOXML (.xlsx) writer for the generated SINAPI workbooks.

Only the parts the engine's reader consumes are written: workbook.xml and its
relationships, one worksheet part per sheet, and a shared-string table. The zip
entries carry a fixed timestamp, so the same cells always give the same bytes.

A row is a list of cells; a cell is one of
  None        -> no <c> element (an empty cell)
  str         -> shared string (t="s")
  Num(text)   -> numeric cell, the raw text stored in <v>
  Formula(f)  -> formula cell (<f>); the engine reads the formula, not a value
"""

import zipfile
from xml.sax.saxutils import escape


class Num(str):
    """A numeric cell; the string is the stored value (dot decimal)."""


class Formula(str):
    """A formula cell; the string is the formula text without the leading '='."""


def _col_letters(n):
    out = []
    for i in range(n):
        s, k = "", i + 1
        while k:
            k, r = divmod(k - 1, 26)
            s = chr(65 + r) + s
        out.append(s)
    return out


_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
{sheets}</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_NS_R = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
_REL_T = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def _sheet_xml(rows, sst, sst_index, letters):
    parts = [f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
             f'<worksheet {_NS}><sheetData>']
    for r, row in enumerate(rows, start=1):
        cells = []
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{letters[c]}{r}"
            if isinstance(v, Formula):
                cells.append(f'<c r="{ref}" t="str"><f>{escape(v)}</f></c>')
            elif isinstance(v, Num):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                i = sst_index.get(v)
                if i is None:
                    i = sst_index[v] = len(sst)
                    sst.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{i}</v></c>')
        if cells:
            parts.append(f'<row r="{r}">{"".join(cells)}</row>')
    parts.append("</sheetData></worksheet>")
    return "".join(parts)


def write_xlsx(path, sheets):
    """Write `sheets`, a list of (sheet name, rows), to the .xlsx at `path`."""
    width = max((len(row) for _, rows in sheets for row in rows), default=1)
    letters = _col_letters(width)
    sst, sst_index = [], {}
    bodies = [_sheet_xml(rows, sst, sst_index, letters) for _, rows in sheets]
    sst_xml = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               f'<sst {_NS} count="{len(sst)}" uniqueCount="{len(sst)}">'
               + "".join(f"<si><t>{escape(s)}</t></si>" for s in sst) + "</sst>")
    n = len(sheets)
    workbook = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                f'<workbook {_NS} {_NS_R}><sheets>'
                + "".join(f'<sheet name="{escape(name, {chr(34): "&quot;"})}" '
                          f'sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                          for i, (name, _) in enumerate(sheets))
                + "</sheets></workbook>")
    wb_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
               + "".join(f'<Relationship Id="rId{i + 1}" Type="{_REL_T}/worksheet" '
                         f'Target="worksheets/sheet{i + 1}.xml"/>' for i in range(n))
               + f'<Relationship Id="rId{n + 1}" Type="{_REL_T}/sharedStrings" '
                 f'Target="sharedStrings.xml"/></Relationships>')
    content_types = _CONTENT_TYPES.format(sheets="".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType='
        f'"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>\n'
        for i in range(n)))
    entries = [("[Content_Types].xml", content_types), ("_rels/.rels", _ROOT_RELS),
               ("xl/workbook.xml", workbook), ("xl/_rels/workbook.xml.rels", wb_rels),
               ("xl/sharedStrings.xml", sst_xml)]
    entries += [(f"xl/worksheets/sheet{i + 1}.xml", b) for i, b in enumerate(bodies)]
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in entries:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            zf.writestr(info, text.encode("utf-8"), compress_type=zipfile.ZIP_DEFLATED,
                        compresslevel=1)
