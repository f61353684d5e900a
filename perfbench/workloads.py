"""The three workloads: a closed loop with one client each.

``drip_merge`` and ``backfill_ingest`` drive ``plans.runner`` exactly
as the reference's per-type Cloud Function would: a file is dropped,
``run_file`` cleans and merges it, ``refresh_view`` rebuilds the view,
the view is fully materialized, and only then does the next file drop.
``query_mix`` runs a fixed ordered pass of ``__spark_entry__`` queries. Every
workload keeps one long-lived session, as the runner does.

A workload object goes through ``setup`` (repeated; the median is
``setup_s``), ``warm`` (outside every timer), ``measure`` (the timed
closed loop) and ``check`` (the DuckDB replay, outside every timer).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext
from datetime import date, timedelta
from pathlib import Path

import gen
import oracle
from tracer import inclusive, self_times

# Input sizes. "full" is what the benchmark measures; "tiny" is the
# smoke test's.
SIZES = {
    "full": {"history_days": 3 * 365, "rows_per_day": 30, "window_days": 14,
             "txn_rows": 6000, "optiom_rows": 400, "tpch_scale": 1.0},
    "tiny": {"history_days": 60, "rows_per_day": 5, "window_days": 14,
             "txn_rows": 400, "optiom_rows": 60, "tpch_scale": 0.2},
}
HISTORY_START = date(2021, 1, 1)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it. Below 20
    samples that percentile falls under the median, so p90 stands in
    (the result records the percentile and n)."""
    return (n - 10) / n if n >= 20 else 0.9


def tree_files(roots: list[Path]) -> dict:
    """(dev, inode) → size of every regular file under ``roots``."""
    out = {}
    for r in roots:
        for dirpath, _dirs, files in os.walk(r):
            for f in files:
                try:
                    st = os.lstat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def write_amp(batches: list[dict]) -> float:
    """Bytes of files created under staging and base per input byte."""
    return sum(b["bytes_written"] for b in batches) / sum(b["input_bytes"] for b in batches)


def fs_delta(before: dict, after: dict) -> dict:
    new = [s for k, s in after.items() if k not in before]
    gone = [s for k, s in before.items() if k not in after]
    return {"bytes_written": sum(new), "files_written": len(new), "bytes_reclaimed": sum(gone)}


class Workload:
    name = ""
    setup_reps = 3  # set-ups per run; setup_s is their median

    def __init__(self, spark, work: Path, seed: int, size: str, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.tracer = tracer
        self.batches: list[dict] = []
        self.failures: list[str] = []
        self.check_results: list[str | None] = []

    def _span(self, name: str, label: str):
        return self.tracer.span(name, label) if self.tracer else nullcontext()

    # Each op is traced or untraced in alternation, so one traced run
    # also yields the untraced wall its tracing overhead is taken from.
    def _traced(self, i: int) -> bool:
        return self.tracer is not None and i % 2 == 0

    def run_op(self, op_id: str, i: int, fn) -> dict:
        rec = {"op": op_id, "traced": self._traced(i)}
        if self.tracer is not None:
            self.tracer.enabled = rec["traced"]
            with self.tracer.op(op_id, "batch"):
                fn(rec)
        else:
            fn(rec)
        return rec

    def measure(self, seconds: float) -> None:
        """Closed loop: the next op starts when the previous one ends,
        until ``seconds`` have passed (at least one op)."""
        t_end = time.perf_counter() + seconds
        while True:
            i = len(self.batches)
            try:
                self.batches.append(self.batch(i))
            except Exception as e:  # noqa: BLE001 — a failed op is counted, then the loop stops
                self.failures.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
                break
            if time.perf_counter() >= t_end:
                break


# --------------------------------------------------------------------------
# Pipeline workloads
# --------------------------------------------------------------------------

class _Pipeline(Workload):
    def _tree(self, root: Path) -> None:
        # The deployment creates the landing/staging/base/error tree; the
        # runner does not (see NOTES.md, "run_file into a missing parent").
        for d in ("landing", "staging", "base", "errors", "inputs", "meta"):
            (root / d).mkdir(parents=True, exist_ok=True)
        self.dim_paths = gen.write_dimensions(root / "meta")
        self.dims = None

    def _spec(self, root: Path, name: str, schema, converters, date_col, view,
              sheets=(), base_name=None):
        from awi_datapipelinepublic_spark.plans.spec import PipelineSpec

        sf = root / f"{name}_schema.json"
        sf.write_text(json.dumps(gen.schema_json(schema)))
        return PipelineSpec(
            name=name, schema_file=str(sf), date_col=date_col,
            landing_dir=str(root / "landing"), staging_dir=str(root / "staging"),
            base_table_path=str(root / "base" / (base_name or name)),
            converters=dict(converters), excel_sheets=list(sheets), view_name=view,
            error_dir=str(root / "errors"),
        )

    def _dims(self):
        """The metadata lookups, read once from their Parquet tables as
        the deployment reads them from the warehouse, then held like
        the runner's own process would hold them."""
        if self.dims is None:
            self.dims = {k: self.spark.read.parquet(str(p)) for k, p in self.dim_paths.items()}
        return self.dims

    def _refresh_and_materialize(self, spec) -> None:
        from awi_datapipelinepublic_spark.plans.runner import refresh_view

        view = refresh_view(self.spark, spec, self._dims())
        with self._span("plans.views.materialize", "view"):
            view.write.format("noop").mode("overwrite").save()

    def _drop_and_run(self, rec: dict, drops: list[tuple], views: list) -> None:
        """Time from the first file drop until the last view is
        materialized. ``drops`` = [(spec, src file, landing name)]."""
        from awi_datapipelinepublic_spark.plans.runner import run_file

        before = tree_files(self._written_roots())
        for spec, src, name in drops:
            shutil.copyfile(src, Path(spec.landing_dir) / name)
        t0 = time.perf_counter()
        for spec, _src, name in drops:
            run_file(self.spark, spec, str(Path(spec.landing_dir) / name))
        t1 = time.perf_counter()
        for spec in views:
            self._refresh_and_materialize(spec)
        t2 = time.perf_counter()
        rec.update(latency_s=t2 - t0, view_s=t2 - t1, **fs_delta(before, tree_files(self._written_roots())))

    def _written_roots(self) -> list[Path]:
        return [self.root / "staging", self.root / "base"]

    def _compare_table(self, replay, name, twin, arrow) -> None:
        sql, cols = twin
        self.check_results.append(replay.compare(name, sql, cols, arrow))

    def _read_base(self, spec):
        df = self.spark.read.parquet(spec.base_table_path)
        return df.drop("_merge_month").toArrow()


class DripMerge(_Pipeline):
    """Steady state: multi-year renewals history, then small daily
    batches each restating the trailing window, each followed by the
    RETENTION refresh and its full materialization."""

    name = "drip_merge"

    def setup(self, rep: int) -> None:
        s = self.size
        self.root = self.work / f"setup{rep}"
        self._tree(self.root)
        self.spec = self._spec(self.root, "renewals", gen.RENEWALS_SCHEMA,
                               gen.RENEWALS_CONVERTERS, "PolicyExpiryDate", "RETENTION")
        days = [HISTORY_START + timedelta(days=d) for d in range(s["history_days"])]
        hist = gen.renewals(self.seed, 0, days, s["rows_per_day"], s["rows_per_day"])
        drop = Path(self.spec.landing_dir) / "renewals.csv"
        gen.write_csv(drop, hist.columns, hist.raw)
        from awi_datapipelinepublic_spark.plans.runner import run_file

        run_file(self.spark, self.spec, str(drop))
        self.history = hist
        self.applied = [hist.clean]
        self.last_day = days[-1]
        self.k = 0

    def _next_batch_file(self) -> tuple[Path, int, int]:
        s = self.size
        self.k += 1
        end = self.last_day + timedelta(days=self.k)
        days = [end - timedelta(days=s["window_days"] - 1 - i) for i in range(s["window_days"])]
        t = gen.renewals(self.seed, self.k, days, s["rows_per_day"], 2)
        src = self.root / "inputs" / f"renewals-{self.k}.csv"
        nbytes = gen.write_csv(src, t.columns, t.raw)
        self.applied.append(t.clean)
        return src, len(t.raw), nbytes

    def warm(self) -> None:
        src, _, _ = self._next_batch_file()
        self._drop_and_run({}, [(self.spec, src, "renewals.csv")], [self.spec])

    def batch(self, i: int) -> dict:
        src, rows, nbytes = self._next_batch_file()

        def go(rec):
            self._drop_and_run(rec, [(self.spec, src, "renewals.csv")], [self.spec])

        rec = self.run_op(f"b{i}", i, go)
        rec.update(input_rows=rows, input_bytes=nbytes, batch_rows=len(self.applied[-1]))
        src.unlink()
        return rec

    def check(self) -> None:
        replay = oracle.Replay(gen.dimensions())
        for clean in self.applied:
            replay.merge("renewals", "PolicyExpiryDate", oracle.arrow_table(gen.RENEWALS_SCHEMA, clean))
        cols = [c for c, _ in gen.RENEWALS_SCHEMA]
        self._compare_table(replay, "base renewals", oracle.base_twin("renewals", cols),
                            self._read_base(self.spec))
        self._compare_table(replay, "view RETENTION", oracle.retention_twin("renewals"),
                            self.spark.table("RETENTION").toArrow())


class BackfillIngest(_Pipeline):
    """First load into empty bases: one large dirty transactions CSV and
    one two-sheet optiom workbook, then TRANSACTIONS and AUTO_OPTIOM
    (view on view), each materialized. Every batch loads into fresh,
    empty base tables."""

    name = "backfill_ingest"
    setup_reps = 5

    def setup(self, rep: int) -> None:
        s = self.size
        self.root = self.work / f"setup{rep}"
        self._tree(self.root)
        txn = gen.transactions(self.seed, s["txn_rows"])
        self.txn_src = self.root / "inputs" / "transactions.csv"
        self.txn_bytes = gen.write_csv(self.txn_src, txn.columns, txn.raw)
        sheets, self.optiom_clean = gen.optiom(self.seed, s["optiom_rows"], s["txn_rows"])
        self.xlsx_src = self.root / "inputs" / "ProductionRpt.xlsx"
        self.xlsx_bytes = gen.write_xlsx(self.xlsx_src, sheets)
        self.txn_rows = len(txn.raw)
        self.xlsx_rows = sum(len(rows) for _h, rows in sheets.values())
        self.txn_clean = txn.clean
        self.n = 0

    def _specs(self):
        self.n += 1
        t = self._spec(self.root, "transactions", gen.TRANSACTIONS_SCHEMA,
                       gen.TRANSACTIONS_CONVERTERS, "EntryDateTime", "TRANSACTIONS",
                       base_name=f"transactions-{self.n}")
        o = self._spec(self.root, "optiom", gen.OPTIOM_COLUMNS, {}, "TRANS_DATE", "AUTO_OPTIOM",
                       sheets=gen.OPTIOM_SHEETS, base_name=f"optiom-{self.n}")
        return t, o

    def _one(self, rec: dict) -> None:
        # The previous batch's bases are the benchmark's to discard: drop
        # them before the FS snapshot so they never count as reclaimed.
        for old in (self.root / "base").iterdir():
            if old.is_symlink() or old.is_file():
                old.unlink()
            else:
                shutil.rmtree(old)
        self.t_spec, self.o_spec = self._specs()
        self._drop_and_run(rec, [(self.t_spec, self.txn_src, "transactions.csv"),
                                 (self.o_spec, self.xlsx_src, "ProductionRpt.xlsx")],
                           [self.t_spec, self.o_spec])

    def warm(self) -> None:
        """One untimed batch. Its two files run through ``run_file`` on
        two client threads at once: the batch only loads classes and
        compiles, and its wall is most of a run's cold cost."""
        from concurrent.futures import ThreadPoolExecutor

        from awi_datapipelinepublic_spark.plans.runner import run_file

        t_spec, o_spec = self._specs()

        def drop(spec, src, name):
            shutil.copyfile(src, Path(spec.landing_dir) / name)
            run_file(self.spark, spec, str(Path(spec.landing_dir) / name))

        with ThreadPoolExecutor(2) as pool:
            done = [pool.submit(drop, t_spec, self.txn_src, "transactions.csv"),
                    pool.submit(drop, o_spec, self.xlsx_src, "ProductionRpt.xlsx")]
            for f in done:
                f.result()
        for spec in (t_spec, o_spec):
            self._refresh_and_materialize(spec)

    def batch(self, i: int) -> dict:
        rec = self.run_op(f"b{i}", i, self._one)
        rec.update(input_rows=self.txn_rows + self.xlsx_rows,
                   input_bytes=self.txn_bytes + self.xlsx_bytes,
                   batch_rows=len(self.txn_clean) + len(self.optiom_clean))
        return rec

    def check(self) -> None:
        replay = oracle.Replay(gen.dimensions())
        replay.merge("transactions", "EntryDateTime",
                     oracle.arrow_table(gen.TRANSACTIONS_SCHEMA, self.txn_clean))
        optiom_schema = [(c, "STRING") for c in gen.OPTIOM_TABLE_COLUMNS]
        replay.merge("optiom", "TRANS_DATE", oracle.arrow_table(optiom_schema, self.optiom_clean))
        txn_cols = [c for c, _ in gen.TRANSACTIONS_SCHEMA]
        self._compare_table(replay, "base transactions", oracle.base_twin("transactions", txn_cols),
                            self._read_base(self.t_spec))
        self._compare_table(replay, "base optiom", oracle.base_twin("optiom", gen.OPTIOM_TABLE_COLUMNS),
                            self._read_base(self.o_spec))
        self._compare_table(replay, "view TRANSACTIONS", oracle.transactions_twin("transactions"),
                            self.spark.table("TRANSACTIONS").toArrow())
        self._compare_table(replay, "view AUTO_OPTIOM",
                            oracle.auto_optiom_twin("transactions", "optiom", gen.OPTIOM_TABLE_COLUMNS),
                            self.spark.table("AUTO_OPTIOM").toArrow())


def install_pipeline_spans(tracer) -> None:
    """Wrap the runner's public stages and the library calls beneath
    them. Attribute names are patched where the caller looks them up
    (``runner`` imported some by name)."""
    from pyspark.sql import Observation

    from awi_datapipelinepublic_spark.operators import merge
    from awi_datapipelinepublic_spark.plans import runner
    from awi_datapipelinepublic_spark.sources import writers, xlsx

    counter = iter(range(1 << 30))

    def observe(args, kwargs):
        if kwargs.get("observation") is None and len(args) < 4:
            kwargs = dict(kwargs, observation=Observation(f"pb_clean_{next(counter)}"))
        return args, kwargs

    def observed(sp, _result, _args, kwargs):
        obs = kwargs.get("observation")
        if obs is not None:
            sp["attrs"].update(obs.get)

    def xlsx_rows(sp, result, _args, _kwargs):
        sp["attrs"]["rows"] = len(result[1])

    tracer.wrap(runner, "run_file", "plans.runner.run_file")
    tracer.wrap(runner, "run_clean", "plans.runner.run_clean", "clean", before=observe, after=observed)
    tracer.wrap(runner, "read_csv", "sources.readers.read_csv")
    tracer.wrap(runner, "read_excel_sheets", "sources.readers.read_excel_sheets")
    tracer.wrap(xlsx, "read_xlsx", "sources.xlsx.read_xlsx", after=xlsx_rows)
    tracer.wrap(runner, "write_parquet", "sources.writers.write_parquet")
    tracer.wrap(runner, "run_load", "plans.runner.run_load", "merge")
    tracer.wrap(runner, "merge_into_path", "operators.merge.merge_into_path")
    tracer.wrap(merge, "merge_cutoff", "operators.merge.merge_cutoff")
    tracer.wrap(writers, "overwrite_table", "sources.writers.overwrite_table")
    tracer.wrap(runner, "refresh_view", "plans.runner.refresh_view", "view")


def spark_totals(incl: dict, roots: list[dict], n: int) -> dict[str, float]:
    """Spark counters of whole ops, averaged over ``n`` ops."""
    return {f"spark.{key}": sum(incl[r["id"]][key] for r in roots) / n
            for key in ("jobs", "tasks", "job_wall_s", "executor_run_s", "gc_s")}


def pipeline_layers(spans: list[dict], batches: list[dict]) -> dict[str, float]:
    """Per-layer metrics, averaged over the traced batches."""
    traced = [b for b in batches if b.get("traced")]
    if not traced:
        return {}
    ops = {b["op"] for b in traced}
    spans = [s for s in spans if s["op"] in ops]
    incl = inclusive(spans)
    selft = self_times(spans)
    n = len(traced)

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def incl_sum(name, key):
        return sum(incl[s["id"]][key] for s in spans if s["name"] == name)

    def attr_sum(name, key):
        return sum(s["attrs"].get(key, 0) or 0 for s in spans if s["name"] == name)

    out: dict[str, float] = {}
    clean_s = dur("plans.runner.run_clean")
    rows_in = attr_sum("plans.runner.run_clean", "rows_in")
    rows_written = incl_sum("sources.writers.overwrite_table", "output_records")
    batch_rows = sum(b["batch_rows"] for b in traced)
    out["plans.runner.run_clean_s"] = clean_s / n
    out["sources.readers.scan_tasks"] = incl_sum("plans.runner.run_clean", "scan_tasks") / n
    out["sources.readers.rows_per_s"] = rows_in / clean_s if clean_s else 0.0
    out["functions.cleaning.null_date_rows"] = attr_sum("plans.runner.run_clean", "null_date_rows") / n
    out["sources.xlsx.read_xlsx_s"] = dur("sources.xlsx.read_xlsx") / n
    out["sources.xlsx.rows"] = attr_sum("sources.xlsx.read_xlsx", "rows") / n
    out["operators.merge.merge_cutoff_s"] = dur("operators.merge.merge_cutoff") / n
    out["operators.merge.merge_into_path_s"] = dur("operators.merge.merge_into_path") / n
    out["operators.merge.rows_written"] = rows_written / n
    out["operators.merge.rows_carried"] = (rows_written - batch_rows) / n
    out["operators.merge.useful_write_ratio"] = batch_rows / rows_written if rows_written else 0.0
    out["sources.writers.write_parquet_s"] = dur("sources.writers.write_parquet") / n
    out["sources.writers.overwrite_table_s"] = dur("sources.writers.overwrite_table") / n
    out["sources.writers.publish_overhead_s"] = (
        dur("sources.writers.overwrite_table") - incl_sum("sources.writers.overwrite_table", "job_wall_s")
    ) / n
    for key in ("bytes_written", "files_written", "bytes_reclaimed"):
        out[f"sources.writers.{key}"] = sum(b[key] for b in traced) / n
    out["sources.writers.write_amp"] = write_amp(traced)
    out["plans.runner.refresh_view_s"] = dur("plans.runner.refresh_view") / n
    out["plans.views.materialize_s"] = dur("plans.views.materialize") / n
    out["plans.views.shuffle_bytes"] = incl_sum("plans.views.materialize", "shuffle_bytes") / n
    out["plans.views.broadcast_joins"] = incl_sum("plans.views.materialize", "broadcast_joins") / n
    for label in ("clean", "merge", "view"):
        own = [s.get("spark", {}) for s in spans if s["label"] == label]
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "shuffle_bytes", "spill_bytes", "gc_s"):
            out[f"{label}.{key}"] = sum(c.get(key, 0) for c in own) / n
    roots = [s for s in spans if s["parent"] is None]
    out.update(spark_totals(incl, roots, n))
    # Batch wall the layer spans do not cover (loop glue between calls).
    root_ids = {r["id"] for r in roots}
    covered = sum(s["end"] - s["start"] for s in spans if s["parent"] in root_ids)
    out["trace.unattributed_s"] = (sum(b["latency_s"] for b in traced) - covered) / n
    # Self time per span name: where each batch's wall went.
    names = sorted({s["name"] for s in spans})
    for name in names:
        out[f"self.{name}_s"] = sum(selft[s["id"]] for s in spans if s["name"] == name) / n
    return out


# --------------------------------------------------------------------------
# Query mix
# --------------------------------------------------------------------------

QUERY_MIX = [
    ("triangle_count", "graph", ["lineitem"]),
    ("pagerank", "graph", ["orders", "lineitem"]),
    ("dedup_minhash_lsh", "dedup", ["documents"]),
    ("dedup_incremental", "dedup", ["documents"]),
    ("fuzzy_join_edit1", "joins", ["customer"]),
    ("tpch_q5_revenue", "joins", ["customer", "orders", "lineitem", "supplier", "nation", "region"]),
    ("view_retention", "joins", ["orders", "customer", "nation", "region"]),
    ("knn_ivf", "similarity", ["embeddings"]),
    ("events_session", "events", ["events"]),
    ("curation_pipeline", "quality", ["documents"]),
    ("holt_linear", "timeseries", ["events"]),
    ("multimodal_decode", "multimodal", ["documents"]),
]


WARM_THREADS = 4


class _Collected:
    """Stands in for a DataFrame whose rows were already collected, so
    the oracle comparison reuses the timed result."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — DataFrame's name
        return self._pdf


class QueryMix(Workload):
    """A fixed ordered pass over twelve ``__spark_entry__`` queries on a seeded
    TPC-H-shaped dataset; read-only. Each timed query is preceded by a
    warm-up pass and by clearCache(), both outside the timer."""

    name = "query_mix"
    setup_reps = 5

    def setup(self, rep: int) -> None:
        self.sf_dir = self.work / f"setup{rep}" / "sf"
        tables = gen.tpch_tables(self.seed, self.size["tpch_scale"])
        gen.write_tpch(self.sf_dir, tables)
        self.rows = {t: tbl.num_rows for t, tbl in tables.items()}
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def _run(self, name: str, module: str):
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with self._span(f"operators.{module}.{name}", name):
            pdf = self.queries[name](self.spark, str(self.sf_dir)).toPandas()
        return time.perf_counter() - t0, pdf

    def warm(self) -> None:
        """One untimed pass. Its queries run on four client threads at
        once: the pass only loads classes, compiles and starts Python
        workers, and its wall is most of a run's cold cost."""
        from concurrent.futures import ThreadPoolExecutor

        def one(name):
            self.queries[name](self.spark, str(self.sf_dir)).toPandas()

        with ThreadPoolExecutor(WARM_THREADS) as pool:
            list(pool.map(one, [name for name, _m, _t in QUERY_MIX]))

    def batch(self, i: int) -> dict:
        """One ordered pass; the pass's queries share the op id."""
        def go(rec):
            rec["queries"] = {}
            self._results = {}
            for name, module, _ in QUERY_MIX:
                secs, pdf = self._run(name, module)
                rec["queries"][name] = secs
                self._results[name] = pdf

        rec = self.run_op(f"p{i}", i, go)
        rec["latency_s"] = sum(rec["queries"].values())
        rec["input_rows"] = sum(self.rows[t] for _, _, ts in QUERY_MIX for t in ts)
        return rec

    def check(self) -> None:
        import oracle_check

        con = oracle_check.duck_con(str(self.sf_dir))
        for name, _module, _ in QUERY_MIX:
            pdf = self._results[name]
            msg = oracle_check.compare_one(
                self.spark, con, name, lambda *_a, p=pdf: _Collected(p), self.oracles.get(name),
                str(self.sf_dir),
            )
            self.check_results.append(f"{name}: {msg}" if msg else None)


def query_layers(spans: list[dict], batches: list[dict]) -> dict[str, float]:
    traced = [b for b in batches if b.get("traced")]
    if not traced:
        return {}
    ops = {b["op"] for b in traced}
    spans = [s for s in spans if s["op"] in ops]
    incl = inclusive(spans)
    n = len(traced)
    out = spark_totals(incl, [s for s in spans if s["parent"] is None], n)
    for name, module, _ in QUERY_MIX:
        mine = [s for s in spans if s["parent"] is not None and s["label"] == name
                and s["name"].endswith(f".{name}")]
        base = f"operators.{module}.{name}"
        out[f"{base}_s"] = sum(s["end"] - s["start"] for s in mine) / n
        for key in ("tasks", "executor_run_s", "shuffle_bytes", "spill_bytes"):
            out[f"{base}.{key}"] = sum(incl[s["id"]][key] for s in mine) / n
    return out


QUERY_LAYERS = tuple(f"operators.{module}.{name}" for name, module, _ in QUERY_MIX)


def calls_layer(workload: str, metric: str) -> bool:
    """Whether ``workload`` calls the layer a per-layer ``metric``
    measures: query_mix calls only the operators of its queries, the
    pipeline workloads only the pipeline layers; both make Spark jobs
    and are traced."""
    if metric.startswith(("spark.", "trace.")):
        return True
    return metric.startswith(QUERY_LAYERS) == (workload == "query_mix")


WORKLOADS = {w.name: w for w in (DripMerge, BackfillIngest, QueryMix)}
