"""The benchmark's workloads.

Each workload generates its inputs from the seed in ``setup``, then
exposes a fixed op list.  ``run_op`` makes the public ``locopy_spark``
calls of one op and returns its result; the runner times only that
call.  ``check`` compares a result with what the op must produce and
``oracle`` compares the warm-up results with an independent engine
once per run.  Spans (``tracer.span``) wrap every call into a layer;
a lazy layer is timed through the action that materialises it.
"""

from __future__ import annotations

import glob
import os
import shutil

import duckdb
import pandas as pd

import datagen

# tools/check_correctness.py's order-insensitive frame comparison
from check_correctness import _normalize, _values_match


def _frame(pdf) -> pd.DataFrame:
    return pdf if pdf is not None else pd.DataFrame()


class AnalyticsMix:
    """Read-only analytics and LLM-data ops over generated tables.

    Ops are ``__spark_entry__.queries()`` keys fetched in full via
    Arrow, plus a SQL-text op run through ``Database.execute`` +
    ``to_dataframe``.  Every pass is compared with the warm-up pass; the
    warm-up pass is compared once with the DuckDB ``oracle_sql()`` twin
    (for the SQL-text op: the same SQL text on DuckDB).  No op touches
    file transport (utility, stage, copy, unload)."""

    name = "analytics_mix"
    sf = 0.01
    # key -> layer its span is attributed to; TPC-H and event keys are
    # named after their queries module, LLM-data keys after the
    # operator family that does their work
    keys = {
        "q1_pricing_summary": "queries.tpch",
        "q_events_sessionize": "queries.events",
        "t_pii_scrub": "functions.text",
        "d_minhash_lsh": "operators.dedup",
        "s_knn_lsh": "operators.similarity",
    }
    sql_ops = {
        "sql_daily_events": (
            "SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n, "
            "sum(CAST(round(value * 100) AS BIGINT)) AS value_cents "
            "FROM events GROUP BY event_type, CAST(ts AS DATE)"
        ),
    }

    def __init__(self, ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        self.ops = list(self.keys) + list(self.sql_ops)

    def setup(self) -> dict:
        from locopy_spark.sources.tables import register_views

        ctx = self.ctx
        rows = datagen.write_tables(ctx.data_dir, ctx.seed, self.sf)
        register_views(ctx.spark, ctx.data_dir, ["events"])
        return {"sf": self.sf, "rows": rows}

    def run_op(self, op: str, pass_id: int):
        ctx, tr = self.ctx, self.ctx.tracer
        if op in self.sql_ops:
            with tr.span("database.execute"):
                ctx.db.execute(self.sql_ops[op], verbose=False)
            with tr.span("database.fetch"):
                pdf = _frame(ctx.db.to_dataframe())
            tr.count("database.rows_fetched", len(pdf))
            return pdf
        with tr.span(self.keys[op]):
            return self.fns[op](ctx.spark, ctx.data_dir).toPandas()

    def reference(self, op: str, result):
        return _normalize(result)

    def check(self, op: str, result, ref) -> tuple[bool, str]:
        return _values_match(_normalize(result), ref)

    def oracle(self, refs: dict) -> dict[str, tuple[bool, str]]:
        con = duckdb.connect()
        for t in datagen.TABLES:
            p = os.path.join(self.ctx.data_dir, f"{t}.parquet")
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
        out = {}
        for op in self.ops:
            sql = self.sql_ops.get(op) or self.oracles[op]
            out[op] = _values_match(refs[op], _normalize(con.execute(sql).fetchdf()))
        con.close()
        return out

    def per_run_metrics(self, results: dict) -> dict[str, float]:
        """Useful-work ratios from the warm-up outputs: the share of
        MinHash-LSH accepted pairs whose true 3-shingle Jaccard clears
        the operator's threshold, and the share of ANN ops whose top-k
        recall against brute force passed."""
        from locopy_spark.queries.docs import MINHASH_EST_T

        docs = pd.read_parquet(os.path.join(self.ctx.data_dir, "documents.parquet"))
        text = dict(zip(docs["doc_id"], docs["text"]))

        def shingles(s: str) -> set:
            w = s.split()
            return {tuple(w[i : i + 3]) for i in range(max(1, len(w) - 2))}

        pairs = results["d_minhash_lsh"]
        ok = 0
        for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
            sa, sb = shingles(text[a]), shingles(text[b])
            ok += len(sa & sb) / len(sa | sb) >= MINHASH_EST_T
        ann = [bool(results[k]["recall_ok"].iloc[0]) for k in self.keys if k.startswith("s_knn")]
        return {
            "operators.dedup.useful_ratio": ok / max(1, len(pairs)),
            "operators.similarity.useful_ratio": sum(ann) / len(ann),
        }

    def plant_wrong(self, refs: dict) -> None:
        op = next(o for o in self.ops if len(refs[o]))
        refs[op] = refs[op].iloc[:-1]

    def end_pass(self, pass_id: int) -> None:
        pass


LINEITEM_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate DATE"
)
AGG_SQL = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "sum(l_quantity) AS qty, "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents "
    "FROM {t} WHERE l_linenumber <= 5 GROUP BY l_returnflag, l_linestatus"
)
UNLOAD_SQL = "SELECT * FROM li_src WHERE l_linenumber <= 5"


class EtlRoundtrip:
    """locopy's own write-and-read traffic: the ``load_and_copy`` steps
    unrolled into public calls, then UNLOAD, reload, dataframe insert
    and fetch.  Expected values come from pandas over the generated
    inputs, not from Spark."""

    name = "etl_roundtrip"
    file_rows = 60_000
    frame_rows = 20_000
    ops = [
        "split_compress", "stage_put", "copy_load", "transform_fetch",
        "unload", "reload", "infer_insert", "fetch_table",
    ]

    def __init__(self, ctx):
        self.ctx = ctx
        self.src = os.path.join(ctx.scratch, "input", "lineitem.csv")
        self.state: dict = {}

    def setup(self) -> dict:
        from pyspark.sql.types import _parse_datatype_string

        os.makedirs(os.path.dirname(self.src), exist_ok=True)
        datagen.write_lineitem_csv(self.src, self.ctx.seed, self.file_rows)
        self.frame = datagen.mixed_frame(self.ctx.seed, self.frame_rows)
        self.schema = _parse_datatype_string(LINEITEM_DDL)
        src = pd.read_csv(self.src, sep="|")
        sub = src[src["l_linenumber"] <= 5]
        self.unload_rows = len(sub)
        self.expected_agg = _normalize(
            sub.assign(price_cents=(sub["l_extendedprice"] * 100).round().astype("int64"))
            .groupby(["l_returnflag", "l_linestatus"], as_index=False)
            .agg(n=("l_orderkey", "size"), qty=("l_quantity", "sum"),
                 price_cents=("price_cents", "sum"))
        )
        self.expected_frame = (len(self.frame), int(self.frame["qty"].sum()))
        return {"file_rows": self.file_rows, "unload_rows": self.unload_rows,
                "frame_rows": self.frame_rows}

    def run_op(self, op: str, pass_id: int):
        ctx, tr, wh, st = self.ctx, self.ctx.tracer, self.ctx.db, self.state
        from locopy_spark import utility
        from locopy_spark.functions.schema_inference import find_column_type

        work = os.path.join(ctx.scratch, "work", f"p{pass_id}")
        if op == "split_compress":
            os.makedirs(work, exist_ok=True)
            with tr.span("utility.split"):
                parts = utility.split_file(
                    self.src, os.path.join(work, "lineitem.csv"),
                    splits=ctx.cores, ignore_header=1,
                )
            raw = sum(os.path.getsize(p) for p in parts)
            with tr.span("utility.compress"):
                st["gz"] = utility.compress_file_list(parts)
            gz = sum(os.path.getsize(p) for p in st["gz"])
            tr.count("utility.compress_ratio", gz / raw)
            return len(st["gz"])
        if op == "stage_put":
            with tr.span("stage.put"):
                st["staged"] = wh.upload_to_internal(
                    os.path.join(work, "lineitem.csv.*.gz"), f"p{pass_id}/load",
                    parallel=ctx.cores,
                )
            tr.count("stage.bytes", sum(os.path.getsize(p) for p in st["staged"]))
            return len(st["staged"])
        if op == "copy_load":
            with tr.span("copy.load"):
                n = wh.copy("li_src", st["staged"], delim="|",
                            copy_options=["MAXERROR 100"], schema=self.schema).count()
            tr.count("copy.rows", n)
            return n
        if op == "transform_fetch":
            return self._agg("li_src")
        if op == "unload":
            st["unload_dir"] = os.path.join(ctx.stage_root, f"p{pass_id}", "unload")
            with tr.span("unload.write"):
                wh.unload(UNLOAD_SQL, st["unload_dir"],
                          unload_options=["HEADER", "GZIP", "DELIMITER '|'"])
            st["unload_files"] = files = sorted(
                glob.glob(os.path.join(st["unload_dir"], "*.csv.gz")))
            tr.count("unload.files", len(files))
            tr.count("unload.bytes_per_row",
                     sum(os.path.getsize(f) for f in files) / self.unload_rows)
            return len(files)
        if op == "reload":
            with tr.span("copy.load"):
                n = wh.copy("li_rt", st["unload_files"],
                            delim="|", copy_options=["IGNOREHEADER 1", "MAXERROR 100"],
                            schema=self.schema).count()
            tr.count("copy.rows", n)
            return n, self._agg("li_rt")
        if op == "infer_insert":
            with tr.span("schema_inference.infer"):
                types = find_column_type(self.frame)
            with tr.span("dataframe_io.insert"):
                wh.insert_dataframe_to_table(self.frame, f"ins_p{pass_id}", metadata=types)
            return dict(types)
        if op == "fetch_table":
            with tr.span("database.execute"):
                wh.execute(f"SELECT * FROM ins_p{pass_id}", verbose=False)
            with tr.span("database.fetch"):
                pdf = _frame(wh.to_dataframe())
            tr.count("database.rows_fetched", len(pdf))
            return pdf
        raise ValueError(op)

    def _agg(self, table: str) -> pd.DataFrame:
        tr, wh = self.ctx.tracer, self.ctx.db
        with tr.span("database.execute"):
            wh.execute(AGG_SQL.format(t=table), verbose=False)
        with tr.span("database.fetch"):
            pdf = _frame(wh.to_dataframe())
        tr.count("database.rows_fetched", len(pdf))
        return pdf

    def reference(self, op: str, result):
        if op in ("transform_fetch",):
            return _normalize(result)
        if op == "fetch_table":
            return len(result)
        return result[0] if op == "reload" else result

    def check(self, op: str, result, ref) -> tuple[bool, str]:
        if op == "split_compress" or op == "stage_put":
            return result == self.ctx.cores, f"{result} files"
        if op == "copy_load":
            rejected = self.ctx.spark.table("li_src__load_errors").count()
            self.ctx.tracer.count("copy.rows_rejected", rejected)
            return (result == self.file_rows and rejected == 0,
                    f"loaded {result} of {self.file_rows}, rejected {rejected}")
        if op == "transform_fetch":
            return _values_match(_normalize(result), self.expected_agg)
        if op == "unload":
            return result >= 1, f"{result} files"
        if op == "reload":
            n, agg = result
            if n != self.unload_rows:
                return False, f"reloaded {n} of {self.unload_rows}"
            return _values_match(_normalize(agg), self.expected_agg)
        if op == "infer_insert":
            return result == ref, f"types {result}"
        if op == "fetch_table":
            got = (len(result), int(result["qty"].sum()) if len(result) else 0)
            return got == self.expected_frame, f"{got} vs {self.expected_frame}"
        return False, f"unknown op {op}"

    def oracle(self, refs: dict) -> dict[str, tuple[bool, str]]:
        return {}

    def per_run_metrics(self, results: dict) -> dict[str, float]:
        return {}

    def plant_wrong(self, refs: dict) -> None:
        n, qty = self.expected_frame
        self.expected_frame = (n + 1, qty)

    def end_pass(self, pass_id: int) -> None:
        self.ctx.spark.catalog.clearCache()
        shutil.rmtree(os.path.join(self.ctx.scratch, "work", f"p{pass_id}"),
                      ignore_errors=True)


WORKLOADS = {w.name: w for w in (EtlRoundtrip, AnalyticsMix)}
