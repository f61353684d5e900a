"""Seeded input generators for the pipeline benchmark.

Everything the program under test reads is produced here from a seed:
the dirty CSV/XLSX drops of FIXTURES.md A1-A3, the four metadata
dimensions of A4, and a TPC-H-shaped parquet set for the query mix.
Each generator also returns the *clean* rows it rendered (typed Python
values, NULL-date rows already dropped), which is what the DuckDB
replay in ``oracle.py`` merges and joins. The program never sees the
clean rows; it sees only the files.

Output files are byte-identical for the same seed: rows come from
``numpy.random.default_rng`` streams keyed by ``(seed, stream)``, CSV is
written with a fixed dialect, and XLSX zip entries carry a fixed
timestamp.
"""

from __future__ import annotations

import csv
import io
import zipfile
from datetime import date, datetime, timedelta
from pathlib import Path
from xml.sax.saxutils import escape

import numpy as np

# --------------------------------------------------------------------------
# Schemas (BigQuery JSON field lists, as the reference's Schemas/*.json)
# --------------------------------------------------------------------------

RENEWALS_SCHEMA = [
    ("AgencyNumber", "STRING"), ("PolicyNumber", "STRING"),
    ("PolicyEffectiveDate", "DATE"), ("PolicyExpiryDate", "DATE"),
    ("TransactionType", "STRING"), ("LeaseIndicator", "BOOLEAN"),
    ("DateRenewed", "DATE"), ("PolicyStatus", "STRING"),
    ("ProducerCode1", "STRING"), ("ProducerCode2", "STRING"),
    ("ProducerName1", "STRING"), ("ProducerName2", "STRING"),
    ("RenewedByProducerCode2", "STRING"), ("City", "STRING"),
    ("PostalCode", "STRING"), ("CommissionAmt", "NUMERIC"),
    ("DateCancelled", "DATE"), ("VehicleNetWeight", "NUMERIC"),
]
RENEWALS_CONVERTERS = {"AgencyNumber": "strip_excel", "PolicyNumber": "strip_excel"}

TRANSACTIONS_SCHEMA = [
    ("AgencyNumber", "STRING"), ("AgencyNameAndNo", "STRING"),
    ("ProducerCode1", "STRING"), ("ProducerCode2", "STRING"),
    ("ProducerName1", "STRING"), ("ProducerName2", "STRING"),
    ("DCID", "STRING"), ("EntryDateTime", "DATE"),
    ("PolicyEffectiveDate", "DATE"), ("PolicyExpiryDate", "DATE"),
    ("PolicyType", "STRING"), ("PolicyNumber", "STRING"),
    ("TransactionType", "STRING"), ("City", "STRING"),
    ("PostalCode", "STRING"), ("VehicleType", "STRING"),
    ("Make", "STRING"), ("Model", "STRING"), ("VIN", "STRING"),
    ("CommTotal", "NUMERIC"), ("AgentComments", "STRING"),
]
TRANSACTIONS_CONVERTERS = {
    "AgencyNumber": "strip_excel", "DCID": "strip_excel",
    "PolicyNumber": "strip_excel", "VehicleType": "strip_excel",
}

# Optiom report columns in the order the Plus sheet carries them; the
# Prime sheet lacks the seven dealer/referral columns (FIXTURES.md A3).
OPTIOM_COLUMNS = [
    ("BROKERAGE_NAME", "STRING"), ("SELLER__", "INTEGER"), ("POLICY__", "STRING"),
    ("TRANS__", "INTEGER"), ("CURRENT_STATUS", "STRING"), ("INSURED", "STRING"),
    ("TRANS_EFFECTIVE_DATE", "DATE"), ("EFFECTIVE_DATE", "DATE"),
    ("EXPIRY_DATE", "DATE"), ("TRANS_DATE", "DATE"), ("YEAR", "INTEGER"),
    ("MAKE", "STRING"), ("MODEL", "STRING"), ("VIN", "STRING"),
    ("DEALER", "STRING"), ("DEALER_CONTACT", "STRING"), ("PROGRAM", "STRING"),
    ("COVERAGE_TYPE", "STRING"), ("TRANS_TYPE", "STRING"), ("TERM", "INTEGER"),
    ("PAYMENT_TERM", "INTEGER"), ("TOTAL_PREMIUM", "FLOAT"), ("TOTAL_FEE", "FLOAT"),
    ("RETAIL_COST", "FLOAT"), ("AMOUNT_PAYABLE", "FLOAT"),
    ("SELLER_COMMISSION", "FLOAT"), ("SELLER_TOTAL", "FLOAT"),
    ("AMOUNT_COLLECTED_BY_DEALER", "FLOAT"), ("REFERRAL_FEE_NET", "FLOAT"),
    ("REFERRAL_FEE_GST", "FLOAT"), ("REFERRAL_FEE_TOTAL", "FLOAT"),
    ("PAYABLE_BY_DEALER_TO_SELLER", "FLOAT"),
]
OPTIOM_DEALER_ONLY = [
    "DEALER", "DEALER_CONTACT", "AMOUNT_COLLECTED_BY_DEALER", "REFERRAL_FEE_NET",
    "REFERRAL_FEE_GST", "REFERRAL_FEE_TOTAL", "PAYABLE_BY_DEALER_TO_SELLER",
]
OPTIOM_SHEETS = ["Prime Production Report", "Plus Production Report"]
# Column order of the optiom staging/base table: the Prime sheet's
# columns, its SOURCE tag, then the Plus-only columns the by-name union
# appends (readers.read_excel_sheets).
OPTIOM_TABLE_COLUMNS = (
    [c for c, _ in OPTIOM_COLUMNS if c not in OPTIOM_DEALER_ONLY] + ["SOURCE"] + OPTIOM_DEALER_ONLY
)


def schema_json(schema: list[tuple[str, str]]) -> list[dict]:
    return [{"name": n, "type": t, "mode": "NULLABLE"} for n, t in schema]


# --------------------------------------------------------------------------
# Shared vocabularies and the A4 dimensions
# --------------------------------------------------------------------------

AGENCIES = [str(1001 + i) for i in range(40)]
CITIES = ["Calgary", "Edmonton", "Red Deer", "Lethbridge", "Banff", "Canmore",
          "Airdrie", "Okotoks", "Medicine Hat", "Nowhere"]
# Lethbridge carries the duplicate geo row (left-join fan-out). It only
# appears in renewals: a fan-out inside TRANSACTIONS would tie the
# IsNew ROW_NUMBER and make the view nondeterministic.
TXN_CITIES = [c for c in CITIES if c != "Lethbridge"]
POSTCODES = ["T2P 1J9", "T5J 0N3", "T4N 1A1", "T1J 0P3", "T1L 1A1", "T1W 2T8"]
P2_CODES = [f"P2{i:02d}" for i in range(20)]
TTYPES = ["NB", "RN", "CH", "CN", "RW", "XX"]
NAMES = ["Alice", "Bob", "Chen", "Dee", "Eve", "Farid", "Gil", "Hana", "Ivy", "Joe"]
MAKES = [("Ford", "F150"), ("Toyota", "Camry"), ("Honda", "Civic"), ("GMC", "Sierra"),
         ("Kia", "Soul"), ("Subaru", "Outback")]
COMMENT_WORDS = ["renewal", "called", "client", "paid", "follow up", "late", "discount",
                 "broker", "note", "vehicle"]


def dimensions() -> dict[str, list[tuple]]:
    """The four metadata lookups (FIXTURES.md A4): ~80% key coverage,
    one duplicate geo key, and keys no fact row references."""
    geo = [("Calgary", "South"), ("Edmonton", "North"), ("Red Deer", "Central"),
           ("Lethbridge", "South"), ("Lethbridge", "SouthWest"), ("Banff", "Mountain"),
           ("Canmore", "Mountain"), ("Airdrie", "Central"), ("Grande Prairie", "North")]
    channels = [(p, "ONLINE" if i % 2 else "BROKER") for i, p in enumerate(P2_CODES[:16])]
    channels.append(("P299", "UNUSED"))
    agencies = [(a, f"Agency {a}") for a in AGENCIES[:32]] + [("9999", "Closed Agency")]
    ttypes = [("NB", "New Business"), ("RN", "Renewal"), ("CH", "Change"),
              ("CN", "Cancel"), ("RW", "Rewrite"), ("ZZ", "Unused")]
    return {
        "geo": (["meta_city", "meta_geo"], geo),
        "channels": (["P2", "CHANNEL"], channels),
        "agencies": (["metaAgencyNumber", "metaAgencyName"], agencies),
        "ttypes": (["ttno", "TType"], ttypes),
    }


def write_dimensions(dst: Path) -> dict[str, Path]:
    """Write each lookup as ``dst/<name>.parquet`` (all-string columns)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = {}
    for name, (cols, rows) in dimensions().items():
        p = dst / f"{name}.parquet"
        pq.write_table(pa.table({c: pa.array([r[i] for r in rows], type=pa.string())
                                 for i, c in enumerate(cols)}), p)
        out[name] = p
    return out


# --------------------------------------------------------------------------
# Dirty rendering helpers
# --------------------------------------------------------------------------

def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _excel_wrap(s: str) -> str:
    """Excel's text-forcing formula quoting: 1234 → ="1234"."""
    return f'="{s}"'


def _money(x: float) -> tuple[str, float]:
    txt = f"{x:.2f}"
    return txt, float(txt)


class _Table:
    """Raw CSV cells plus the clean typed values the clean stage must
    produce for the same rows (None = NULL)."""

    def __init__(self, columns: list[str]):
        self.columns = columns
        self.raw: list[list[str]] = []
        self.clean: list[tuple] = []

    def add(self, raw: list[str], clean: tuple | None) -> None:
        self.raw.append(raw)
        if clean is not None:
            self.clean.append(clean)


def write_csv(path: Path, header: list[str], rows: list[list[str]]) -> int:
    """Fixed-dialect CSV (minimal quoting, doubled quotes, LF rows).
    Returns the byte size."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(header)
    w.writerows(rows)
    data = buf.getvalue().encode()
    path.write_bytes(data)
    return len(data)


# --------------------------------------------------------------------------
# A2 renewals: multi-year history plus daily restating batches
# --------------------------------------------------------------------------

def renewals(seed: int, stream: int, days: list[date], rows_per_day: int,
             null_date_rows: int) -> _Table:
    """Renewal rows expiring on each of ``days`` (``rows_per_day`` each),
    plus ``null_date_rows`` rows with an empty PolicyExpiryDate that the
    clean stage must drop. ``stream`` separates the history from each
    daily batch, so a restated day carries corrected values."""
    rng = _rng(seed, 1, stream)
    t = _Table([c for c, _ in RENEWALS_SCHEMA] + ["Notes"])
    n = len(days) * rows_per_day
    expiry = [d for d in days for _ in range(rows_per_day)] + [None] * null_date_rows
    n += null_date_rows
    agency = rng.integers(0, len(AGENCIES), n)
    wrap_agency = rng.random(n) < 0.3
    wrap_policy = rng.random(n) < 0.2
    null_policy = rng.random(n) < 0.02
    eff_kind = rng.random(n)
    ttype = rng.integers(0, len(TTYPES), n)
    lease = rng.integers(0, 3, n)
    status = rng.integers(0, 6, n)
    p1 = rng.integers(0, 100, n)
    p2 = rng.integers(0, len(P2_CODES), n)
    n1 = rng.integers(0, len(NAMES), n)
    n2 = rng.integers(0, len(NAMES), n)
    city = rng.integers(0, len(CITIES), n)
    post = rng.integers(0, len(POSTCODES), n)
    comm = rng.uniform(10, 500, n)
    comm_null = rng.random(n) < 0.05
    lag = rng.integers(1, 30, n)
    weight = rng.uniform(900, 3500, n)
    weight_null = rng.random(n) < 0.1
    note = rng.integers(0, len(COMMENT_WORDS), (n, 2))
    for i in range(n):
        exp = expiry[i]
        ag = AGENCIES[agency[i]]
        pol = f"R{stream:04d}{i:07d}"
        pol_raw = "" if null_policy[i] else (_excel_wrap(pol) if wrap_policy[i] else pol)
        pol_clean = None if null_policy[i] else pol
        if exp is None:
            eff_raw, eff_clean = "", None
        elif eff_kind[i] < 0.03:
            eff_raw, eff_clean = "not-a-date", None
        elif eff_kind[i] < 0.05:
            eff_raw, eff_clean = "", None
        else:
            e = exp - timedelta(days=365)
            eff_raw, eff_clean = e.isoformat(), e
        st = ["R", "C", "E", "A", "X", ""][status[i]]
        renewed = exp - timedelta(days=int(lag[i])) if (st == "R" and exp) else None
        cancelled = exp - timedelta(days=int(lag[i]) * 3) if (st == "C" and exp) else None
        ls_raw = ["true", "false", ""][lease[i]]
        ls_clean = [True, False, None][lease[i]]
        comm_raw, comm_clean = ("", None) if comm_null[i] else _money(comm[i])
        w_raw, w_clean = ("", None) if weight_null[i] else (f"{weight[i]:.1f}", float(f"{weight[i]:.1f}"))
        p2c = P2_CODES[p2[i]]
        raw = [
            _excel_wrap(ag) if wrap_agency[i] else ag, pol_raw, eff_raw,
            exp.isoformat() if exp else "", TTYPES[ttype[i]], ls_raw,
            renewed.isoformat() if renewed else "", st, f"P1{p1[i]:02d}", p2c,
            NAMES[n1[i]], NAMES[n2[i]], p2c if st == "R" else "", CITIES[city[i]],
            POSTCODES[post[i]], comm_raw, cancelled.isoformat() if cancelled else "", w_raw,
            f"{COMMENT_WORDS[note[i][0]]}, {COMMENT_WORDS[note[i][1]]}",
        ]
        clean = None if exp is None else (
            ag, pol_clean, eff_clean, exp, TTYPES[ttype[i]], ls_clean, renewed,
            st or None, f"P1{p1[i]:02d}", p2c, NAMES[n1[i]], NAMES[n2[i]],
            p2c if st == "R" else None, CITIES[city[i]], POSTCODES[post[i]],
            comm_clean, cancelled, w_clean,
        )
        t.add(raw, clean)
    return t


# --------------------------------------------------------------------------
# A1 transactions and A3 optiom: the backfill drop
# --------------------------------------------------------------------------

def _vin(k: int) -> str:
    return f"2HGVIN{k:011d}"


def transactions(seed: int, rows: int) -> _Table:
    """One large dirty ProductivityReport drop (FIXTURES.md A1).
    Policies repeat on ~30% of rows, each repeat on a distinct
    EntryDateTime, so the IsNew ROW_NUMBER has no ties."""
    rng = _rng(seed, 2)
    t = _Table([c for c, _ in TRANSACTIONS_SCHEMA] + ["BranchCode"])
    n_pol = max(1, int(rows * 0.7))
    policy = np.concatenate([np.arange(n_pol), rng.integers(0, n_pol, rows - n_pol)])
    rng.shuffle(policy)
    seen: dict[int, int] = {}
    start = date(2018, 1, 1).toordinal()
    base_day = rng.integers(0, 3 * 365, n_pol)
    null_date = rng.random(rows) < 0.01
    agency = rng.integers(0, len(AGENCIES), rows)
    wrap = rng.random((rows, 4)) < 0.3
    p1 = rng.integers(0, 100, rows)
    p2 = rng.integers(0, len(P2_CODES), rows)
    n1 = rng.integers(0, len(NAMES), rows)
    n2 = rng.integers(0, len(NAMES), rows)
    eff_kind = rng.random(rows)
    exp_null = rng.random(rows) < 0.1
    ptype = rng.integers(0, 3, rows)
    ttype = rng.integers(0, len(TTYPES), rows)
    city = rng.integers(0, len(TXN_CITIES), rows)
    post = rng.integers(0, len(POSTCODES), rows)
    vtype = rng.integers(0, 3, rows)
    make = rng.integers(0, len(MAKES), rows)
    vin = rng.integers(0, 2 * rows, rows)
    vin_null = rng.random(rows) < 0.05
    comm = rng.uniform(5, 900, rows)
    comm_null = rng.random(rows) < 0.05
    words = rng.integers(0, len(COMMENT_WORDS), (rows, 3))
    multiline = rng.random(rows) < 0.2
    for i in range(rows):
        p = int(policy[i])
        occ = seen.get(p, 0)
        seen[p] = occ + 1
        entry = None if null_date[i] else date.fromordinal(start + int(base_day[p]) + 30 * occ)
        ag = AGENCIES[agency[i]]
        dcid = f"DC{p1[i]:03d}"
        pol = f"T{p:08d}"
        vt = ["CAR", "TRUCK", "SUV"][vtype[i]]
        if eff_kind[i] < 0.04:
            eff_raw, eff_clean = "not-a-date", None
        elif eff_kind[i] < 0.06:
            eff_raw, eff_clean = "N/A", None
        else:
            e = date.fromordinal(start + int(base_day[p]))
            eff_raw, eff_clean = e.isoformat(), e
        exp = None if exp_null[i] else date.fromordinal(start + int(base_day[p]) + 365)
        pt_raw = ["A", "B", ""][ptype[i]]
        mk, md = MAKES[make[i]]
        v = None if vin_null[i] else _vin(int(vin[i]))
        comm_raw, comm_clean = ("", None) if comm_null[i] else _money(comm[i])
        c = [COMMENT_WORDS[w] for w in words[i]]
        comment = f"{c[0]}, {c[1]}\n{c[2]}" if multiline[i] else f"{c[0]} {c[1]}, {c[2]}"
        p2c = P2_CODES[p2[i]]
        raw = [
            _excel_wrap(ag) if wrap[i][0] else ag, f"{ag} - Agency", f"P1{p1[i]:02d}", p2c,
            NAMES[n1[i]], NAMES[n2[i]], _excel_wrap(dcid) if wrap[i][1] else dcid,
            entry.isoformat() if entry else "", eff_raw, exp.isoformat() if exp else "",
            pt_raw, _excel_wrap(pol) if wrap[i][2] else pol, TTYPES[ttype[i]],
            TXN_CITIES[city[i]], POSTCODES[post[i]], _excel_wrap(vt) if wrap[i][3] else vt,
            mk, md, v or "", comm_raw, comment, f"B{i % 7}",
        ]
        clean = None if entry is None else (
            ag, f"{ag} - Agency", f"P1{p1[i]:02d}", p2c, NAMES[n1[i]], NAMES[n2[i]], dcid,
            entry, eff_clean, exp, pt_raw or None, pol, TTYPES[ttype[i]], TXN_CITIES[city[i]],
            POSTCODES[post[i]], vt, mk, md, v, comm_clean, comment,
        )
        t.add(raw, clean)
    return t


_XLSX_EPOCH = date(1899, 12, 30)


def _cell_text(v):
    """What the stdlib reader yields for a generated cell: a
    date-styled serial reads back as its ISO date, a number as its
    stored text."""
    if isinstance(v, tuple):
        return v[1].isoformat() if v[0] == "d" else v[1]
    return v


def optiom(seed: int, rows: int, txn_rows: int) -> tuple[dict, list[tuple]]:
    """The two-sheet ProductionRpt workbook (FIXTURES.md A3). Returns
    ``({sheet: (header, cells)}, clean_rows)``; cells are ``str`` (inline
    string), ``int``/``float`` text wrapped as ``("n", text)``, ``("d",
    date)`` for a date-styled serial, or None for a blank cell. Clean
    rows follow OPTIOM_TABLE_COLUMNS and hold what the stdlib reader
    yields (all strings)."""
    rng = _rng(seed, 3)
    names = [c for c, _ in OPTIOM_COLUMNS]
    types = dict(OPTIOM_COLUMNS)
    sheets: dict[str, tuple[list[str], list[list]]] = {}
    clean: list[tuple] = []
    per_sheet = [rows // 2, rows - rows // 2]
    k = 0
    for sheet, count in zip(OPTIOM_SHEETS, per_sheet):
        prime = sheet.startswith("Prime")
        header = [c for c in names if not (prime and c in OPTIOM_DEALER_ONLY)]
        cells_out = []
        for _ in range(count):
            k += 1
            trans = date(2018, 6, 1) + timedelta(days=int(rng.integers(0, 3 * 365)))
            vals: dict[str, object] = {}
            for c in header:
                typ = types[c]
                if c == "TRANS_DATE":
                    vals[c] = None if rng.random() < 0.01 else ("d", trans)
                elif c == "VIN":
                    # ~50% of optiom VINs fall in the transactions VIN range.
                    vals[c] = _vin(int(rng.integers(0, 4 * txn_rows)))
                elif c == "YEAR":
                    vals[c] = ("n", str(int(rng.integers(1998, 2023))))
                elif typ == "DATE":
                    vals[c] = ("d", trans + timedelta(days=int(rng.integers(0, 400))))
                elif typ == "INTEGER":
                    vals[c] = ("n", str(int(rng.integers(1, 100000))))
                elif typ == "FLOAT":
                    vals[c] = None if rng.random() < 0.05 else ("n", f"{rng.uniform(0, 3000):.2f}")
                elif c == "MAKE":
                    vals[c] = MAKES[int(rng.integers(0, len(MAKES)))][0]
                elif c == "MODEL":
                    vals[c] = MAKES[int(rng.integers(0, len(MAKES)))][1]
                else:
                    vals[c] = f"{c.lower()}-{int(rng.integers(0, 50))}"
            cells_out.append([vals[c] for c in header])
            if vals["TRANS_DATE"] is None:
                continue
            row = {c: _cell_text(vals[c]) for c in header}
            row["SOURCE"] = "prime" if prime else "plus"
            clean.append(tuple(row.get(c) for c in OPTIOM_TABLE_COLUMNS))
        sheets[sheet] = (header, cells_out)
    return sheets, clean


_SHEET = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<worksheet xmlns="http://'
          'schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>{}</sheetData></worksheet>')
_STYLES = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<styleSheet xmlns="http://'
           'schemas.openxmlformats.org/spreadsheetml/2006/main"><cellXfs count="2"><xf numFmtId="0"/>'
           '<xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>')
_NS_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_PKG = "http://schemas.openxmlformats.org/package/2006/relationships"
_CT = "application/vnd.openxmlformats-officedocument.spreadsheetml"


def _col_letters(idx: int) -> str:
    s = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        s = chr(65 + rem) + s
    return s


def write_xlsx(path: Path, sheets: dict) -> int:
    """Minimal workbook with inline strings, numeric cells and
    date-styled serials; fixed zip timestamps keep it byte-identical.
    Returns the byte size."""
    parts = {}
    decls, rels, overrides = [], [], []
    for i, (name, (header, rows)) in enumerate(sheets.items(), start=1):
        out = []
        for rno, cells in enumerate([header, *rows], start=1):
            cs = []
            for cno, v in enumerate(cells):
                if v is None:
                    continue
                ref = f"{_col_letters(cno)}{rno}"
                if isinstance(v, tuple) and v[0] == "d":
                    cs.append(f'<c r="{ref}" s="1"><v>{(v[1] - _XLSX_EPOCH).days}</v></c>')
                elif isinstance(v, tuple):
                    cs.append(f'<c r="{ref}"><v>{v[1]}</v></c>')
                else:
                    cs.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(v)}</t></is></c>')
            out.append(f'<row r="{rno}">{"".join(cs)}</row>')
        parts[f"xl/worksheets/sheet{i}.xml"] = _SHEET.format("".join(out))
        decls.append(f'<sheet name="{escape(name)}" sheetId="{i}" r:id="rId{i}"/>')
        rels.append(f'<Relationship Id="rId{i}" Type="{_NS_REL}/worksheet" '
                    f'Target="worksheets/sheet{i}.xml"/>')
        overrides.append(f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
                         f'ContentType="{_CT}.worksheet+xml"/>')
    n = len(sheets) + 1
    rels.append(f'<Relationship Id="rId{n}" Type="{_NS_REL}/styles" Target="styles.xml"/>')
    overrides.append(f'<Override PartName="/xl/styles.xml" ContentType="{_CT}.styles+xml"/>')
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    parts["[Content_Types].xml"] = (
        f'{head}<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        f'<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.'
        f'relationships+xml"/><Default Extension="xml" ContentType="application/xml"/>'
        f'<Override PartName="/xl/workbook.xml" ContentType="{_CT}.sheet.main+xml"/>'
        f'{"".join(overrides)}</Types>')
    parts["_rels/.rels"] = (
        f'{head}<Relationships xmlns="{_NS_PKG}"><Relationship Id="rId1" Type="{_NS_REL}/'
        f'officeDocument" Target="xl/workbook.xml"/></Relationships>')
    parts["xl/workbook.xml"] = (
        f'{head}<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'xmlns:r="{_NS_REL}"><sheets>{"".join(decls)}</sheets></workbook>')
    parts["xl/_rels/workbook.xml.rels"] = (
        f'{head}<Relationships xmlns="{_NS_PKG}">{"".join(rels)}</Relationships>')
    parts["xl/styles.xml"] = _STYLES
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, parts[name])
    return path.stat().st_size


# --------------------------------------------------------------------------
# TPC-H-shaped tables for the query mix (column contract: FIXTURES.md B)
# --------------------------------------------------------------------------

DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
             "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
             "the", "value", "vector", "window"]


def tpch_tables(seed: int, scale: float) -> dict:
    """``{table: pyarrow.Table}`` shaped like the sf0.001 test tables (TESTDATA.md) at
    ``scale`` = 1 (150 customers, 1,500 orders, 6,000 line items, 1,000
    events, 500 documents and 500 64-d embeddings)."""
    import pyarrow as pa

    rng = _rng(seed, 4)
    n_cust, n_supp, n_part = int(150 * scale), max(5, int(10 * scale)), int(200 * scale)
    n_ord, n_li, n_ev = int(1500 * scale), int(6000 * scale), int(1000 * scale)
    n_doc = n_emb = 500
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols):
        return pa.table({k: pa.array(v, type=t) for k, (t, v) in cols.items()})

    def days(lo: date, n: int, span: int) -> list[datetime]:
        base = datetime(lo.year, lo.month, lo.day)
        return [base + timedelta(days=int(d)) for d in rng.integers(0, span, n)]

    out = {
        "region": table({
            "r_regionkey": (i32, list(range(5))),
            "r_name": (s, ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": table({
            "n_nationkey": (i32, list(range(25))),
            "n_name": (s, [f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (i32, [i % 5 for i in range(25)]),
        }),
        "customer": table({
            "c_custkey": (i64, list(range(n_cust))),
            "c_name": (s, [f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": (i32, rng.integers(0, 25, n_cust).tolist()),
            "c_acctbal": (f64, np.round(rng.uniform(-999, 9999, n_cust), 2).tolist()),
            "c_mktsegment": (s, rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                            "MACHINERY"], n_cust).tolist()),
        }),
        "supplier": table({
            "s_suppkey": (i64, list(range(n_supp))),
            "s_name": (s, [f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": (i32, rng.integers(0, 25, n_supp).tolist()),
            "s_acctbal": (f64, np.round(rng.uniform(-999, 9999, n_supp), 2).tolist()),
        }),
        "part": table({
            "p_partkey": (i64, list(range(n_part))),
            "p_name": (s, [f"{a} {b}" for a, b in zip(
                rng.choice(["blue", "red", "cold", "hot", "new", "old", "small", "large"], n_part),
                rng.choice(["rod", "gear", "anvil", "plate", "ring", "widget", "bolt"], n_part))]),
            "p_brand": (s, [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": (s, rng.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"],
                                     n_part).tolist()),
            "p_size": (i32, rng.integers(1, 51, n_part).tolist()),
            "p_retailprice": (f64, [round(900 + i * 0.1, 2) for i in range(n_part)]),
        }),
        "orders": table({
            "o_orderkey": (i64, list(range(n_ord))),
            "o_custkey": (i64, rng.integers(0, n_cust, n_ord).tolist()),
            "o_orderstatus": (s, rng.choice(["O", "F", "P"], n_ord).tolist()),
            "o_totalprice": (f64, np.round(rng.uniform(1000, 500000, n_ord), 2).tolist()),
            "o_orderdate": (ts, days(date(1995, 1, 1), n_ord, 2404)),
            "o_orderpriority": (s, rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                               "5-LOW"], n_ord).tolist()),
        }),
    }
    okey = np.sort(rng.integers(0, n_ord, n_li))
    linenumber = np.ones(n_li, dtype=np.int64)
    for j in range(1, n_li):
        if okey[j] == okey[j - 1]:
            linenumber[j] = linenumber[j - 1] + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = table({
        "l_orderkey": (i64, okey.tolist()),
        "l_partkey": (i64, rng.integers(0, n_part, n_li).tolist()),
        "l_suppkey": (i64, rng.integers(0, n_supp, n_li).tolist()),
        "l_linenumber": (i32, linenumber.tolist()),
        "l_quantity": (f64, qty.tolist()),
        "l_extendedprice": (f64, np.round(qty * rng.uniform(900, 2100, n_li), 2).tolist()),
        "l_discount": (f64, (rng.integers(0, 11, n_li) / 100).tolist()),
        "l_tax": (f64, (rng.integers(0, 9, n_li) / 100).tolist()),
        "l_returnflag": (s, rng.choice(["N", "A", "R"], n_li).tolist()),
        "l_linestatus": (s, rng.choice(["O", "F"], n_li).tolist()),
        "l_shipdate": (ts, days(date(1995, 1, 2), n_li, 2500)),
    })
    n_users = max(3, int(15 * scale))
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    out["events"] = table({
        "event_id": (i64, list(range(n_ev))),
        "ts": (ts, [datetime(2024, 1, 1) + timedelta(microseconds=int(u)) for u in ev_us]),
        "user_id": (i64, rng.integers(0, n_users, n_ev).tolist()),
        "event_type": (s, rng.choice(["click", "purchase", "error", "signup", "view"], n_ev).tolist()),
        "value": (f64, np.round(rng.exponential(50, n_ev) + 0.01, 2).tolist()),
        "props": (s, [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = [" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    out["documents"] = table({
        "doc_id": (i64, list(range(n_doc))),
        "text": (s, texts),
        "lang": (s, rng.choice(["en", "en", "fr", "es", "zh", "de"], n_doc).tolist()),
        "source": (s, [f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": (i64, [len(t) for t in texts]),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = table({
        "vec_id": (i64, list(range(n_emb))),
        "embedding": (pa.list_(pa.float32()), [row.tolist() for row in emb]),
        "label": (i32, rng.integers(0, 10, n_emb).tolist()),
    })
    return out


def write_tpch(dst: Path, tables: dict) -> int:
    """Write each table as ``dst/<name>.parquet``; returns total bytes."""
    import pyarrow.parquet as pq

    dst.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, tbl in tables.items():
        p = dst / f"{name}.parquet"
        pq.write_table(tbl, p, compression="snappy")
        total += p.stat().st_size
    return total
