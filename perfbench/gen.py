"""Seeded input generator for the price-list sync workloads.

For one workload and seed it writes, into an input directory:

  part.parquet      the master catalogue (TPC-H `part` shape)
  lineitem.parquet  the supplier's price lines (TPC-H `lineitem` shape);
                    per article the line with the largest
                    l_orderkey * 8 + l_linenumber carries the current price
  supplier.xlsx     the supplier price list, in the raw header shape that
                    fixtures/vitya_config.json maps (banner header cell,
                    unnamed columns, the "курс" article column)
  base.xlsx         the master base: Fixture.baseSide rows (part minus
                    every 97th key) in article order, columns
                    A=article, B=name, C=price, so data row i sits on
                    sheet row i + 2 and its price in cell C{i + 2}
  vitya_config.json a verbatim copy of fixtures/vitya_config.json
  expected.json     what the generator knows the outputs must satisfy

The same (workload, seed) always yields byte-identical files.
"""

import json
import random
import zipfile
from datetime import datetime, timedelta
from pathlib import Path
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

# Workload shapes. `parts`: catalogue size. `absent`: share of extra
# supplier articles with no catalogue row (new items on top of the 1/97
# the base leaves out). `changed`: share of catalogue articles whose
# supplier price differs from the base price; `shift`: the relative
# change range applied to them.
WORKLOADS = {
    "sync_match": dict(parts=3000, absent=0.06, changed=0.01, shift=(0.01, 0.30)),
    "sync_writeback": dict(parts=2000, absent=0.0, changed=0.85, shift=(0.06, 0.40)),
}

ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
KEEP_BALANCE = ["Имеются в нал.", "Распродажа"]
SUPPLIER_COLORS = ["black", "white", "red", "blue"]


def supplier_name(a):
    """Python twin of graft.queries.Fixture.supplierName."""
    brand = {0: "XIAOMI Power bank ", 1: "SAMSUNG Power bank ",
             2: "HUAWEI Power bank "}.get(a % 8, "Power bank ")
    name = f"{brand}{SUPPLIER_COLORS[a % 4]} {(a % 20 + 5) * 1000}mah"
    return name + (f" (PB-{a % 450})" if a % 2 == 0 else "")


def base_price(p):
    return round(900.0 + (p % 1000) / 10.0, 2)


def generate(workload, seed, out_dir, config_path):
    shape = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    n = shape["parts"]
    keys = list(range(1, n + 1))
    part = {
        "p_partkey": keys,
        "p_name": [f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}" for _ in keys],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in keys],
        "p_type": [rng.choice(TYPES) for _ in keys],
        "p_size": [rng.randint(1, 50) for _ in keys],
        "p_retailprice": [base_price(p) for p in keys],
    }
    pq.write_table(pa.table(part, schema=pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ])), out / "part.parquet")

    # Supplier articles: every catalogue key plus the absent ones, whose
    # keys are offset past the catalogue so no row id collides.
    n_absent = round(n * shape["absent"])
    absent = list(range(n + 1, n + 1 + n_absent))
    changed = set(rng.sample(keys, round(n * shape["changed"])))
    lo, hi = shape["shift"]
    price = {}
    for a in keys:
        p = base_price(a)
        if a in changed:
            p = round(p * (1 + rng.choice((-1, 1)) * rng.uniform(lo, hi)), 2)
        price[a] = p
    for a in absent:
        price[a] = round(rng.uniform(5.0, 2000.0), 2)
    articles = keys + absent

    # Lineitem: 1-3 lines per article in shuffled order; older lines
    # carry stale prices, the newest line (largest row id) the current one.
    cols = {c: [] for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                            "l_returnflag", "l_linestatus", "l_shipdate")}
    order = articles[:]
    rng.shuffle(order)
    day0 = datetime(1995, 1, 2)
    for i, a in enumerate(order):
        lines = rng.randint(1, 3)
        for ln in range(1, lines + 1):
            cols["l_orderkey"].append(i + 1)
            cols["l_partkey"].append(a)
            cols["l_suppkey"].append(rng.randint(1, 1000))
            cols["l_linenumber"].append(ln)
            cols["l_quantity"].append(float(rng.randint(1, 50)))
            cols["l_extendedprice"].append(
                price[a] if ln == lines else round(rng.uniform(5.0, 2000.0), 2))
            cols["l_discount"].append(rng.randint(0, 10) / 100)
            cols["l_tax"].append(rng.randint(0, 8) / 100)
            cols["l_returnflag"].append(rng.choice("NAR"))
            cols["l_linestatus"].append(rng.choice("OF"))
            cols["l_shipdate"].append(day0 + timedelta(days=rng.randint(0, 2500)))
    pq.write_table(pa.table(cols, schema=pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
    ])), out / "lineitem.parquet")

    config_text = Path(config_path).read_text(encoding="utf-8")
    (out / "vitya_config.json").write_text(config_text, encoding="utf-8")
    banner = json.loads(config_text)["ignore_columns"][0]

    # Supplier workbook, one row per article in shuffled file order.
    # Header: the banner in A, "курс" (the article column) in F, the
    # rest empty so the reader names them "Unnamed: N".
    rows = [[banner, None, None, None, None, "курс", None, None, None, None, None]]
    listed = articles[:]
    rng.shuffle(listed)
    for i, a in enumerate(listed):
        rows.append(["Прайс-лист" if i == 0 else None, supplier_name(a),
                     rng.choice(["черный", "белый", "синий"]), price[a],
                     round(price[a] * 95, 2), a, rng.choice(KEEP_BALANCE),
                     "хит продаж" if a % 11 == 0 else None,
                     "j1" if a % 13 == 0 else None, None, None])
    write_xlsx(out / "supplier.xlsx", rows)

    base = [a for a in keys if a % 97 != 0]
    write_xlsx(out / "base.xlsx",
               [["article", "name", "price"]] +
               [[a, part["p_name"][a - 1], base_price(a)] for a in base])

    in_base = set(base)
    expected = {
        "workload": workload,
        "seed": seed,
        "supplier_rows": len(articles),
        "base_rows": len(base),
        "new_items": sum(1 for a in articles if a not in in_base),
        "updated": sum(1 for a in base if abs(price[a] - base_price(a)) >= 0.001),
    }
    (out / "expected.json").write_text(json.dumps(expected, sort_keys=True))
    return expected


def write_xlsx(path, rows):
    """Minimal single-sheet workbook: numbers as numeric cells, text as
    inline strings, None as no cell."""
    def ref(j, r):
        s, n = "", j + 1
        while n:
            n, rem = divmod(n - 1, 26)
            s = chr(65 + rem) + s
        return f"{s}{r}"

    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           '<sheetData>']
    for i, row in enumerate(rows):
        out.append(f'<row r="{i + 1}">')
        for j, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, (int, float)):
                out.append(f'<c r="{ref(j, i + 1)}"><v>{v!r}</v></c>')
            else:
                out.append(f'<c r="{ref(j, i + 1)}" t="inlineStr"><is>'
                           f'<t xml:space="preserve">{escape(v)}</t></is></c>')
        out.append("</row>")
    out.append("</sheetData></worksheet>")
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Лист1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml": "".join(out),
    }
    # fixed timestamps keep the archive byte-identical across runs
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))
