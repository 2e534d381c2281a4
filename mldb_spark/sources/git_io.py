"""import.git (plugins/git/git.cc:490): one row per commit with
author/committer/message/parents and per-commit change stats.

The reference walks the repo with libgit2 single-node; here the walk
is one `git log` subprocess whose parsed records land in a DataFrame
(commit history is metadata-sized next to any data corpus — the
distributed part is whatever joins/aggregations run downstream).
"""

from __future__ import annotations

import subprocess

from pyspark.sql import DataFrame, SparkSession

from mldb_spark.session import local_frame

_FORMAT = "%H%x1f%an%x1f%ae%x1f%cn%x1f%ce%x1f%at%x1f%P%x1f%s"


def import_git(
    spark: SparkSession,
    repository: str,
    revision: str = "HEAD",
    limit: int | None = None,
    import_stats: bool = True,
) -> DataFrame:
    """Commit-history dataset with the reference's column names
    (plugins/git/git.cc:314-341; MLDB-1117): (commit, author,
    authorEmail, committer, committerEmail, author_ts, parents,
    message, filesChanged, insertions, deletions).
    import_stats=False skips the per-commit numstat pass (faster on
    huge histories)."""
    args = ["git", "-C", repository, "log", revision, f"--format={_FORMAT}"]
    if import_stats:
        args.append("--numstat")
    if limit is not None:
        args.append(f"-n{limit}")
    raw = subprocess.run(args, capture_output=True, text=True, check=True).stdout

    rows = []
    cur = None
    for line in raw.splitlines():
        if "\x1f" in line:
            if cur is not None:
                rows.append(cur)
            sha, an, ae, cn, ce, at, parents, subject = line.split("\x1f")
            cur = {
                "commit": sha,
                "author": an,
                "authorEmail": ae,
                "committer": cn,
                "committerEmail": ce,
                "author_ts": int(at),
                "parents": parents.split() if parents else [],
                "message": subject,
                "filesChanged": 0,
                "insertions": 0,
                "deletions": 0,
            }
        elif line.strip() and cur is not None:
            parts = line.split("\t")
            if len(parts) == 3:
                ins, dels, _path = parts
                cur["filesChanged"] += 1
                # binary files report '-' for both counts
                cur["insertions"] += int(ins) if ins.isdigit() else 0
                cur["deletions"] += int(dels) if dels.isdigit() else 0
    if cur is not None:
        rows.append(cur)

    schema = (
        "commit string, author string, authorEmail string, "
        "committer string, committerEmail string, author_ts long, "
        "parents array<string>, message string, filesChanged long, "
        "insertions long, deletions long"
    )
    return local_frame(
        spark,
        [tuple(r[k] for k in (
            "commit", "author", "authorEmail", "committer",
            "committerEmail", "author_ts", "parents", "message",
            "filesChanged", "insertions", "deletions",
        )) for r in rows],
        schema,
    )


_XLSX_MAIN_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_XLSX_REL_NS = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """'A1' -> 0, 'BC12' -> 54: base-26 bijective column letters."""
    idx = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _xlsx_cell_value(c, shared: list[str]):
    """Decode one <c> element per ECMA-376: t='s' shared string,
    t='str' formula result, t='b' boolean, t='inlineStr' nested <is>,
    default numeric (int when exact)."""
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_XLSX_MAIN_NS}is")
        return "".join(
            el.text or "" for el in is_el.iter(f"{_XLSX_MAIN_NS}t")
        ) if is_el is not None else None
    v = c.find(f"{_XLSX_MAIN_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "str":
        return v.text
    if t == "b":
        return v.text == "1"
    num = float(v.text)
    return int(num) if num.is_integer() and abs(num) < 2**53 else num


def import_xlsx(spark: SparkSession, path: str, sheet: str | None = None) -> DataFrame:
    """experimental.import.xlsx (plugins/msoffice/xlsx_importer.cc:821):
    each sheet row becomes a dataset row with header-derived column
    names (the reference's cell-grid contract).

    Pure-stdlib reader — an xlsx is a zip of ECMA-376 XML parts:
    workbook.xml names the sheets, the .rels part maps them to
    worksheet XML files, sharedStrings.xml interns string cells.
    Spreadsheets are dimension-sized inputs; the parse is driver-side
    (like the reference's single-node importer) and the resulting
    DataFrame distributes from there.
    """
    import os
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(path) as z:
        # sheet name -> relationship id -> worksheet part path
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(f"{_PKG_REL_NS}Relationship")
        }
        sheets = [
            (s.get("name"), rel_target[s.get(f"{_XLSX_REL_NS}id")])
            for s in wb.iter(f"{_XLSX_MAIN_NS}sheet")
        ]
        if not sheets:
            raise ValueError(f"no worksheets in {path}")
        if sheet is not None:
            targets = [t for n, t in sheets if n == sheet]
            if not targets:
                raise ValueError(
                    f"sheet {sheet!r} not in {[n for n, _ in sheets]}"
                )
            target = targets[0]
        else:
            target = sheets[0][1]
        target = target if target.startswith("xl/") else os.path.join("xl", target)

        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            ss = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in ss.iter(f"{_XLSX_MAIN_NS}si"):
                shared.append(
                    "".join(t.text or "" for t in si.iter(f"{_XLSX_MAIN_NS}t"))
                )

        ws = ET.fromstring(z.read(target))
        grid: list[dict[int, object]] = []
        for row in ws.iter(f"{_XLSX_MAIN_NS}row"):
            cells: dict[int, object] = {}
            # cells without an explicit r= ref take the next column
            # after the last placed cell (ECMA-376 sequential rule),
            # not their ordinal among present <c> elements — in a
            # sparse row (A1, C1, <unref'd>) the unref'd cell is D1
            next_idx = 0
            for c in row.iter(f"{_XLSX_MAIN_NS}c"):
                ref = c.get("r")
                idx = _col_index(ref) if ref else next_idx
                cells[idx] = _xlsx_cell_value(c, shared)
                next_idx = idx + 1
            grid.append(cells)

    if not grid:
        raise ValueError(f"empty worksheet in {path}")
    width = max(max(cells, default=-1) for cells in grid) + 1
    header: list[str] = []
    seen: dict[str, int] = {}
    for j in range(width):
        h = grid[0].get(j)
        name = str(h) if h is not None else f"x{j}"
        # duplicate header cells would collide in the frame schema;
        # disambiguate with an ordinal suffix like pandas does
        if name in seen:
            seen[name] += 1
            name = f"{name}.{seen[name]}"
        else:
            seen[name] = 0
        header.append(name)
    data = [tuple(cells.get(j) for j in range(width)) for cells in grid[1:]]
    # the reference-style numeric collapse (integral floats -> int,
    # cell_value.h:73-78) can leave a column holding BOTH ints and
    # floats (12.5 and 100.0->100); Spark cannot merge long/double on
    # inference, so widen such columns back to float
    for j in range(width):
        vals = [row[j] for row in data]
        has_float = any(isinstance(v, float) for v in vals)
        has_int = any(type(v) is int for v in vals)
        if has_float and has_int:
            data = [
                tuple(
                    float(v) if i == j and type(v) is int else v
                    for i, v in enumerate(row)
                )
                for row in data
            ]
    return local_frame(spark, data, header)


def export_xlsx(df: DataFrame, path: str, sheet: str = "Sheet1", max_rows: int = 1_048_576) -> None:
    """xlsx export — the write twin of import_xlsx (the reference ships
    import only, plugins/msoffice/xlsx_importer.cc; the writer makes
    the codec round-trippable and gate-testable). Pure-stdlib zip+XML:
    strings as inlineStr cells, ints/floats as numeric <v>, None as a
    skipped cell. Spreadsheets are dimension-sized outputs, so the
    collect is capped (Excel's own sheet limit is the default)."""
    import zipfile
    from xml.sax.saxutils import escape

    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(f"export_xlsx: more than {max_rows} rows")
    cols = df.columns

    def col_ref(j: int) -> str:
        out = ""
        j += 1
        while j:
            j, r = divmod(j - 1, 26)
            out = chr(ord("A") + r) + out
        return out

    def cell(j: int, ri: int, v: object) -> str:
        ref = f"{col_ref(j)}{ri}"
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    body = ['<row r="1">' + "".join(cell(j, 1, c) for j, c in enumerate(cols)) + "</row>"]
    for i, r in enumerate(rows):
        body.append(
            f'<row r="{i + 2}">'
            + "".join(cell(j, i + 2, r[c]) for j, c in enumerate(cols))
            + "</row>"
        )
    sheet_xml = f'<?xml version="1.0"?><worksheet {ns}><sheetData>' + "".join(body) + "</sheetData></worksheet>"
    content_types = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/'
        'package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>'
    )
    root_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
        'openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    workbook = (
        f'<?xml version="1.0"?><workbook {ns} xmlns:r="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships"><sheets>'
        f'<sheet name="{escape(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
        'openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)
