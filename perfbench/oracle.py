"""DuckDB replay of the pipeline: the correctness check of every run.

The replay never runs the program. It takes the clean rows the
generator rendered (``gen.py``), applies the reference merge rule

    base WHERE date_col < MIN(batch.date_col) UNION ALL batch

batch by batch, and evaluates SQL twins of the RETENTION, TRANSACTIONS
and AUTO_OPTIOM views (settings.yaml semantics, re-stated here
independently of ``plans/views.py``). Each final base table and view
the program produced is compared with its twin by column names, row
count and an order-insensitive hash (sum of DuckDB row hashes), with
an EXCEPT ALL row diff for the report when they disagree.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_ARROW = {"STRING": pa.string(), "DATE": pa.date32(), "BOOLEAN": pa.bool_(),
          "NUMERIC": pa.float64(), "FLOAT": pa.float64(), "INTEGER": pa.int64()}


def arrow_table(schema: list[tuple[str, str]], rows: list[tuple]) -> pa.Table:
    """Clean generator rows → Arrow, typed as the schema declares."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table({
        name: pa.array(list(vals), type=_ARROW[typ]) for (name, typ), vals in zip(schema, cols)
    })


class Replay:
    """One DuckDB connection holding the replayed bases and the dims."""

    def __init__(self, dims: dict):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for name, (cols, rows) in dims.items():
            self.con.register(f"_{name}", pa.table({
                c: pa.array([r[i] for r in rows], type=pa.string()) for i, c in enumerate(cols)
            }))
            self.con.execute(f"CREATE TABLE dim_{name} AS SELECT * FROM _{name}")

    def merge(self, table: str, date_col: str, batch: pa.Table) -> None:
        """Apply one batch under the reference time-window rule."""
        self.con.register("_batch", batch)
        exists = self.con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name = ?", [table]
        ).fetchone()[0]
        if not exists:
            self.con.execute(f"CREATE TABLE {table} AS SELECT * FROM _batch")
        else:
            self.con.execute(
                f'CREATE OR REPLACE TABLE {table} AS SELECT * FROM {table} '
                f'WHERE "{date_col}" < (SELECT min("{date_col}") FROM _batch) '
                f"UNION ALL SELECT * FROM _batch"
            )
        self.con.unregister("_batch")

    def compare(self, name: str, twin_sql: str, twin_cols: list[str], actual: pa.Table) -> str | None:
        """None when ``actual`` equals the twin as a multiset of rows
        with the same column names in the same order; else a reason."""
        if list(actual.column_names) != list(twin_cols):
            return f"{name}: columns differ: program={actual.column_names} replay={twin_cols}"
        pos = [f"c{i}" for i in range(len(twin_cols))]
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE _want AS {twin_sql}")
        types = [r[1] for r in self.con.execute("DESCRIBE _want").fetchall()]
        self.con.register("_got_raw", actual.rename_columns(pos))
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE _got AS SELECT "
            + ", ".join(f"CAST(c{i} AS {t}) AS c{i}" for i, t in enumerate(types))
            + " FROM _got_raw"
        )
        self.con.unregister("_got_raw")
        cols = ", ".join(pos)
        fp = f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM "
        want, got = self.con.execute(fp + "_want").fetchone(), self.con.execute(fp + "_got").fetchone()
        if want == got:
            return None
        missing = self.con.execute("SELECT count(*) FROM (SELECT * FROM _want EXCEPT ALL SELECT * FROM _got)").fetchone()[0]
        extra = self.con.execute("SELECT count(*) FROM (SELECT * FROM _got EXCEPT ALL SELECT * FROM _want)").fetchone()[0]
        return (f"{name}: rows program={got[0]} replay={want[0]}; "
                f"{missing} replay rows missing, {extra} unexpected rows")


def _select(items: list[tuple[str, str]]) -> tuple[str, list[str]]:
    """(output name, SQL expr) pairs → positional SELECT list c0..cN
    (case-insensitive duplicates such as Make/MAKE survive) + names."""
    return ", ".join(f"{e} AS c{i}" for i, (_, e) in enumerate(items)), [n for n, _ in items]


def base_twin(table: str, columns: list[str]) -> tuple[str, list[str]]:
    sel, names = _select([(c, f'"{c}"') for c in columns])
    return f"SELECT {sel} FROM {table}", names


_RET_COLS = ["AgencyNumber", "PolicyNumber", "PolicyEffectiveDate", "PolicyExpiryDate",
             "TransactionType", "LeaseIndicator", "DateRenewed", "PolicyStatus", "ProducerCode1",
             "ProducerCode2", "ProducerName1", "ProducerName2", "RenewedByProducerCode2", "City",
             "PostalCode", "CommissionAmt", "DateCancelled"]


def retention_twin(base: str) -> tuple[str, list[str]]:
    """RETENTION (settings.yaml:24-63): 4 left lookups, COALESCE
    defaults, 4 status indicators, PolicyNumber NOT NULL."""
    items = [(c, f'r."{c}"') for c in _RET_COLS] + [
        ("Channel", "coalesce(ch.CHANNEL, 'DEALERS')"),
        ("Agency", "ag.metaAgencyName"),
        ("TType", "coalesce(tt.TType, 'CHANGE')"),
        ("Geography", "coalesce(g.meta_geo, 'NA_OR_OUT')"),
    ] + [(n, f"CASE WHEN r.PolicyStatus = '{s}' THEN 1 ELSE 0 END")
         for n, s in [("Renewed", "R"), ("Cancelled", "C"), ("Expired", "E"), ("Active", "A")]]
    sel, names = _select(items)
    return (
        f"SELECT {sel} FROM {base} r "
        "LEFT JOIN dim_geo g ON r.City = g.meta_city "
        "LEFT JOIN dim_channels ch ON r.ProducerCode2 = ch.P2 "
        "LEFT JOIN dim_agencies ag ON r.AgencyNumber = ag.metaAgencyNumber "
        "LEFT JOIN dim_ttypes tt ON r.TransactionType = tt.ttno "
        "WHERE r.PolicyNumber IS NOT NULL"
    ), names


_TXN_COLS = ["AgencyNumber", "AgencyNameAndNo", "ProducerCode1", "ProducerCode2", "ProducerName1",
             "ProducerName2", "DCID", "EntryDateTime", "PolicyEffectiveDate", "PolicyType",
             "PolicyNumber", "TransactionType", "City", "PostalCode", "VehicleType", "Make", "Model",
             "VIN", "CommTotal"]


def _transactions_items() -> list[tuple[str, str]]:
    items = []
    for c in _TXN_COLS:
        if c == "PolicyType":
            items.append((c, "coalesce(t.PolicyType, 'A')"))
        elif c == "VIN":
            items.append(("VIN_A", "t.VIN"))
        else:
            items.append((c, f't."{c}"'))
    return items + [
        ("TType", "coalesce(tt.TType, 'CHANGE')"),
        ("Channel", "coalesce(ch.CHANNEL, 'DEALERS')"),
        ("Geo", "coalesce(g.meta_geo, 'NA_OR_OUT')"),
        ("Agency", "ag.metaAgencyName"),
        ("IsNew", "CASE WHEN row_number() OVER (PARTITION BY t.PolicyNumber "
                  "ORDER BY t.EntryDateTime) = 1 THEN 'N' ELSE 'E' END"),
    ]


_TXN_JOINS = (
    "LEFT JOIN dim_ttypes tt ON t.TransactionType = tt.ttno "
    "LEFT JOIN dim_channels ch ON t.ProducerCode2 = ch.P2 "
    "LEFT JOIN dim_geo g ON t.City = g.meta_city "
    "LEFT JOIN dim_agencies ag ON t.AgencyNumber = ag.metaAgencyNumber"
)


def transactions_twin(base: str) -> tuple[str, list[str]]:
    """TRANSACTIONS (settings.yaml:88-123): lookups, defaults, IsNew."""
    sel, names = _select(_transactions_items())
    return f"SELECT {sel} FROM {base} t {_TXN_JOINS}", names


def auto_optiom_twin(txn_base: str, optiom_base: str, optiom_cols: list[str]) -> tuple[str, list[str]]:
    """AUTO_OPTIOM (settings.yaml:132-140): TRANSACTIONS ⟕ optiom on VIN,
    EntryDateTime ≥ 2019-01-01."""
    tv = [(n, f"v.c{i}") for i, (n, _) in enumerate(_transactions_items())]
    op = [("VIN_OP", 'o."VIN"')] + [(c, f'o."{c}"') for c in optiom_cols if c != "VIN"]
    inner_sel, _ = _select(_transactions_items())
    sel, names = _select(tv + op)
    vin_a = [n for n, _ in _transactions_items()].index("VIN_A")
    entry = [n for n, _ in _transactions_items()].index("EntryDateTime")
    return (
        f"SELECT {sel} FROM (SELECT {inner_sel} FROM {txn_base} t {_TXN_JOINS}) v "
        f"LEFT JOIN {optiom_base} o ON v.c{vin_a} = o.\"VIN\" "
        f"WHERE v.c{entry} >= DATE '2019-01-01'"
    ), names
