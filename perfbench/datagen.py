"""Seeded input generation for the benchmark.

Every input the program reads is made here from ``--seed``: the
TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables, in the same column names, types and value
domains as the engine's test data, at a chosen scale factor; and the
financial-statement workbooks of the ``warehouse_load`` workload in the
committed ``fixtures/etl`` OOXML format.

``digest`` hashes the generated values (not the parquet bytes, which
depend on the writer version), so a run can check that a seed still
produces exactly the inputs it was pinned to.
"""

from __future__ import annotations

import hashlib
import os
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_WORDS = (
    "anvil blue bolt cold gear gizmo hot large new old plate red ring rod "
    "small widget"
).split()
DAY0 = np.datetime64("1995-01-01", "D")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    d = np.datetime64(lo, "D") + rng.integers(0, span + 1, n)
    return d.astype("datetime64[us]")


def _pick(rng, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf`` (sf=1: 6M lineitem rows)."""
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust, n_supp = max(int(150_000 * sf), 15), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 150)
    n_line, n_ev = max(int(6_000_000 * sf), 600), max(int(1_000_000 * sf), 100)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_WORDS, n_part),
                                              _pick(rng, PART_WORDS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    gaps = rng.exponential(2_592_000.0 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) * 1e6).astype(np.int64)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(_pick(rng, WORDS, k)) for k in rng.integers(10, 101, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:  # a near-duplicate of an earlier document
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "zh", "es", "fr", "de"], n_doc,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_emb)
    noise = rng.normal(size=(n_emb, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vec = 0.14 * centroids[label] + noise
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": label.astype(np.int32),
    })
    return t


_ARROW_TYPES = {"embedding": pa.list_(pa.float32())}


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One parquet file per table, ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        schema = pa.Schema.from_pandas(df, preserve_index=False)
        for i, f in enumerate(schema):
            if f.name in _ARROW_TYPES:
                schema = schema.set(i, pa.field(f.name, _ARROW_TYPES[f.name]))
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(table.replace_schema_metadata(None),
                       os.path.join(out_dir, f"{name}.parquet"))


def digest(frames: dict[str, pd.DataFrame]) -> str:
    """sha256 over every table's column names and values, in name order."""
    h = hashlib.sha256()
    for name in sorted(frames):
        h.update(name.encode())
        for col in frames[name].columns:
            h.update(col.encode())
            v = frames[name][col]
            if v.dtype == object:
                for x in v:
                    h.update(np.asarray(x).tobytes() if isinstance(x, np.ndarray)
                             else str(x).encode() + b"\0")
            else:
                h.update(np.ascontiguousarray(v.to_numpy()).tobytes())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Financial-statement workbooks (the fixtures/etl OOXML format)
# ---------------------------------------------------------------------------

STATEMENT_SHEETS = {"Laba Rugi": "1311000", "Posisi Keuangan": "1210000",
                    "Arus Kas": "1510000"}
INFO_SHEET = "1000000"
_LABEL_WORDS = ("Pendapatan bersih Beban pokok penjualan usaha Laba kotor "
                "Kas setara Piutang Arus kas operasi investasi").split()


def make_workbook(rng: np.random.Generator, emitent: str, rows: int) -> dict:
    """One statement workbook's cell grids: a headerless info sheet with
    the ``Kode entitas`` row, and per statement sheet a title row, a
    header row and ``rows`` data rows of string cells — thousands
    separators, unparseable text, blanks and null labels included."""
    def value() -> str | None:
        r = rng.random()
        if r < 0.05:
            return None
        if r < 0.10:
            return "n/a"
        return f"{rng.integers(-10_000, 10_000_000) / 100:,.2f}"

    sheets = {INFO_SHEET: [["Informasi umum", None], ["Kode entitas", emitent],
                           ["Periode", "31 Maret 2024"]]}
    for label, sheet in STATEMENT_SHEETS.items():
        grid = [[label, None, None, None],
                ["Uraian", "CurrentYear", "PriorYear", "English"]]
        for _ in range(rows):
            words = _pick(rng, _LABEL_WORDS, int(rng.integers(1, 5)))
            text = None if rng.random() < 0.03 else " ".join(words) + "!?&()"[
                int(rng.integers(0, 5))]
            grid.append([text, value(), value(), "line"])
        sheets[sheet] = grid
    return sheets


def _col(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_workbook(sheets: dict, path: str) -> None:
    """Serialize cell grids as a minimal inline-string OOXML workbook."""
    ns = "http://schemas.openxmlformats.org"
    rel = f"{ns}/officeDocument/2006/relationships"
    names = list(sheets)
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    members = {
        "[Content_Types].xml": head + f'<Types xmlns="{ns}/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/><Default Extension="xml" ContentType='
        '"application/xml"/><Override PartName="/xl/workbook.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main'
        '+xml"/>' + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/>' for i in range(len(names))) + "</Types>",
        "_rels/.rels": head + f'<Relationships xmlns="{ns}/package/2006/'
        f'relationships"><Relationship Id="rId1" Type="{rel}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml": head + f'<workbook xmlns="{ns}/spreadsheetml/2006/'
        f'main" xmlns:r="{rel}"><sheets>' + "".join(
            f'<sheet name="{n}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, n in enumerate(names)) + "</sheets></workbook>",
        "xl/_rels/workbook.xml.rels": head + f'<Relationships xmlns="{ns}/'
        'package/2006/relationships">' + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{rel}/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))) + "</Relationships>",
    }
    for i, n in enumerate(names):
        rows = "".join(
            f'<row r="{r}">' + "".join(
                f'<c r="{_col(c)}{r}" t="inlineStr"><is><t xml:space="preserve">'
                f"{_esc(v)}</t></is></c>" for c, v in enumerate(row) if v is not None)
            + "</row>" for r, row in enumerate(sheets[n], start=1))
        members[f"xl/worksheets/sheet{i + 1}.xml"] = (
            head + f'<worksheet xmlns="{ns}/spreadsheetml/2006/main">'
            f"<sheetData>{rows}</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members.items():
            z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)),
                       data.encode(), zipfile.ZIP_DEFLATED)
