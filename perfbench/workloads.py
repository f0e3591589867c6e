"""The benchmark workloads and their output checks.

Each workload is a closed loop: one client issues its operations back to
back.  ``plan(rng)`` returns one pass, a fixed amount of work whose call
order the seed sets.  Every operation's output is checked against an
expected value computed outside the program under test, once per run,
before any timing starts.
"""

from __future__ import annotations

import hashlib
import math
import json
import os
import shutil
import subprocess
import sys
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

# The ingest half of ingest_profile reads the seven TPC-H-like tables
# and events; the per-table chain runs on four of them: the smallest
# table, the largest, and the two with a time index.
INGEST_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)
CHAIN_TABLES = ("region", "orders", "lineitem", "events")

# Logical types and semantic tags that inference must give the generated
# tables (the data seed is fixed), written out literally in the style of
# the q_typing_profile oracle.  index / time_index are set by the workload.
INGEST_INDEX = {
    "region": "r_regionkey", "orders": "o_orderkey", "events": "event_id",
}
INGEST_TIME_INDEX = {"orders": "o_orderdate", "events": "ts"}
PINNED_TYPES = {
    "region": {"r_regionkey": "Integer", "r_name": "Unknown"},
    "orders": {
        "o_orderkey": "Integer", "o_custkey": "Integer",
        "o_orderstatus": "Categorical", "o_totalprice": "Double",
        "o_orderdate": "Datetime", "o_orderpriority": "Categorical",
    },
    "lineitem": {
        "l_orderkey": "Integer", "l_partkey": "Integer", "l_suppkey": "Integer",
        "l_linenumber": "Integer", "l_quantity": "Double",
        "l_extendedprice": "Double", "l_discount": "Double", "l_tax": "Double",
        "l_returnflag": "Categorical", "l_linestatus": "Categorical",
        "l_shipdate": "Datetime",
    },
    "events": {
        "event_id": "Integer", "ts": "Datetime", "user_id": "Integer",
        "event_type": "Categorical", "value": "Double", "props": "Categorical",
    },
}
STANDARD_TAGS = {
    "Integer": {"numeric"}, "Double": {"numeric"},
    "Categorical": {"category"}, "Datetime": set(), "Unknown": set(),
}

# The queries workload.  Rule: the ROADMAP.md targets that cover the
# operators and streaming layers with the least warm-up cost -- the
# build-bound cox_lrt, the collect-bound record_linkage, bpe_merges and
# the streaming stream_hourly -- plus the three tpch_* queries (all
# joins) with the lowest time in BENCH_full.json.  The other targets
# (leak_split, glm_lrt2, ivf_pq_search, pagerank) and the slowest query
# of each operator family are left out: with them a run cannot time
# enough passes in the time each run may take (see README.md).
QUERIES = (
    "cox_lrt", "bpe_merges", "record_linkage", "stream_hourly",
    "tpch_promo_revenue", "tpch_top_supplier", "tpch_bracket_revenue",
)
ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_cache")


@dataclass
class Op:
    """One named operation: ``fn`` runs it, ``check`` raises on a wrong
    output.  ``name`` identifies the operation for its latency median."""

    name: str
    layer: str
    call: str
    fn: Callable[[], Any]
    check: Callable[[Any], None]


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str):
    if not cond:
        raise CheckFailed(msg)


def close(a, b, rel=1e-9, abs_=1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


class Workload:
    sf: float
    warmup_passes: int
    pass_s: float  # nominal length of a timed pass on a 4-core host

    def __init__(self, spark, data_dir: str, work_dir: str, tables):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tables = tables

    def path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def prepare(self):
        """The repeatable part of set-up, run several times per run."""

    def plan(self, rng) -> list[Op]:
        raise NotImplementedError

    def extra_layer_metrics(self) -> dict:
        return {}


class Ingest(Workload):
    """load_tables, then per table in seed order: init with inference and
    validation, a noop write of the typed frame, metadata operations,
    validate_logical_types and a to_disk -> from_disk round trip."""

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = {t: len(self.tables[t]) for t in INGEST_TABLES}
        self.source_bytes = sum(os.path.getsize(self.path(t)) for t in CHAIN_TABLES)
        self.written_bytes = 0
        self.state: dict = {}

    def prepare(self):
        from woodwork_spark.io import load_tables

        dfs = load_tables(self.spark, self.data_dir, list(INGEST_TABLES))
        for df in dfs.values():
            df.schema  # resolves the parquet footers

    def plan(self, rng):
        import woodwork_spark as ww
        from woodwork_spark.io import load_tables
        from woodwork_spark.serializers import from_disk

        st = self.state
        self.written_bytes = 0

        def load():
            st["raw"] = load_tables(self.spark, self.data_dir, list(INGEST_TABLES))
            return st["raw"]

        def check_load(dfs):
            expect(sorted(dfs) == sorted(INGEST_TABLES), f"loaded {sorted(dfs)}")
            for t, df in dfs.items():
                expect(df.columns == list(self.tables[t].columns), f"{t} columns")

        ops = [Op("load_tables", "io", "load_tables", load, check_load)]
        order = list(CHAIN_TABLES)
        rng.shuffle(order)
        for t in order:
            ops += self._table_ops(t, ww, from_disk)
        return ops

    def _table_ops(self, t, ww, from_disk):
        st = self.state
        pinned = PINNED_TYPES[t]
        index, time_index = INGEST_INDEX.get(t), INGEST_TIME_INDEX.get(t)
        out_dir = os.path.join(self.work_dir, "out", t)
        numeric = [c for c, lt in pinned.items() if "numeric" in STANDARD_TAGS[lt]
                   and c != index]
        retype = next(c for c, lt in pinned.items() if lt in ("Categorical", "Unknown"))
        new_type = "Unknown" if pinned[retype] == "Categorical" else "Categorical"
        renamed = {c: f"{c}_r" for c in list(pinned)[:2]}

        def init():
            st[t] = ww.init(
                st["raw"][t], name=t, index=index, time_index=time_index,
            )
            return st[t]

        def check_init(w):
            got = {c: type(lt).__name__ for c, lt in w.logical_types.items()}
            expect(got == pinned, f"{t} logical types {got}")
            for c, lt in pinned.items():
                tags = set(STANDARD_TAGS[lt])
                if c == index:
                    tags = {"index"}
                elif c == time_index:
                    tags = tags | {"time_index"}
                expect(w.semantic_tags[c] == tags,
                       f"{t}.{c} tags {w.semantic_tags[c]} != {tags}")

        def materialise():
            st[t].df.write.format("noop").mode("overwrite").save()

        def select():
            return st[t].select(include="numeric")

        def check_select(w):
            expect(list(w.columns) == numeric, f"{t} select {w.columns}")

        def set_types():
            return st[t].set_types(logical_types={retype: new_type})

        def check_set_types(w):
            expect(type(w.logical_types[retype]).__name__ == new_type,
                   f"{t}.{retype} not retyped")

        def rename():
            return st[t].rename(renamed)

        def check_rename(w):
            want = [renamed.get(c, c) for c in pinned]
            expect(list(w.columns) == want, f"{t} rename {w.columns}")

        def validate():
            return st[t].validate_logical_types()

        def check_validate(res):
            expect(all(v == 0 for v in res.values()), f"{t} invalid {res}")

        def to_disk():
            shutil.rmtree(out_dir, ignore_errors=True)
            st[t].to_disk(out_dir)

        def check_to_disk(_):
            size = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(out_dir) for f in fs
                if not f.startswith(".")
            )
            expect(size > 0, f"{t} wrote nothing")
            self.written_bytes += size

        def read_back():
            back = from_disk(self.spark, out_dir)
            return back, back.count()

        def check_read_back(res):
            back, n = res
            expect(back.schema == st[t].schema, f"{t} schema differs after round trip")
            expect(n == self.rows[t], f"{t} read back {n} rows, wrote {self.rows[t]}")

        def none(_):
            pass

        return [
            Op(f"init:{t}", "accessor", "init", init, check_init),
            Op(f"transform:{t}", "logical_types", "transform", materialise, none),
            Op(f"select:{t}", "accessor", "select", select, check_select),
            Op(f"set_types:{t}", "accessor", "set_types", set_types, check_set_types),
            Op(f"rename:{t}", "accessor", "rename", rename, check_rename),
            Op(f"validate:{t}", "accessor", "validate_logical_types", validate,
               check_validate),
            Op(f"to_disk:{t}", "serializers", "to_disk", to_disk, check_to_disk),
            Op(f"from_disk:{t}", "serializers", "from_disk", read_back,
               check_read_back),
        ]

    def extra_layer_metrics(self):
        return {
            "serializers.bytes_per_source_byte": (
                self.written_bytes / self.source_bytes, "ratio",
            ),
        }


class Profile(Workload):
    """The statistics suite on typed lineitem and events frames.  Types are
    pinned at set-up, so inference does no work in the timed run."""

    NUMERIC = ["l_quantity", "l_extendedprice"]
    CATEGORICAL = ["l_returnflag", "l_linestatus"]
    CLOCK_ROWS = 2000

    def __init__(self, *a):
        super().__init__(*a)
        self.expected = self._oracle()
        self.typed: dict = {}

    def _oracle(self):
        li = self.tables["lineitem"]
        ev = self.tables["events"]
        exp = {}
        exp["describe"] = {}
        for c in li.columns:
            s = li[c]
            d = {"count": int(s.count()), "nan_count": int(s.isna().sum()),
                 "nunique": int(s.nunique())}
            if c in self.NUMERIC:
                q = np.quantile(s.to_numpy(), [0.25, 0.5, 0.75], method="linear")
                d.update(mean=float(s.mean()), min=float(s.min()), max=float(s.max()),
                         first_quartile=q[0], second_quartile=q[1],
                         third_quartile=q[2])
            exp["describe"][c] = d
        exp["value_counts"] = {
            c: dict(li[c].value_counts()) for c in self.CATEGORICAL
        }
        exp["value_counts_events"] = dict(ev["event_type"].value_counts())
        exp["pearson"] = li[self.NUMERIC].corr(method="pearson")
        exp["spearman"] = li[self.NUMERIC].corr(method="spearman")
        exp["box_plot"] = np.quantile(
            li["l_extendedprice"].to_numpy(), [0.0, 0.25, 0.5, 0.75, 1.0],
            method="linear",
        )
        exp["value_quantiles"] = np.quantile(
            ev["value"].to_numpy(), [0.0, 0.25, 0.5, 0.75, 1.0], method="linear",
        )
        clock = pd.date_range("2024-01-01", periods=self.CLOCK_ROWS, freq="h")
        exp["clock_freq"] = pd.infer_freq(clock)
        return exp

    def prepare(self):
        import woodwork_spark as ww
        from pyspark.sql import functions as F
        from woodwork_spark.io import read_parquet

        li = read_parquet(self.spark, self.path("lineitem"))
        ev = read_parquet(self.spark, self.path("events"))
        clock = self.spark.range(self.CLOCK_ROWS).select(
            F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 3600).alias("t"),
        )
        typed = {
            "lineitem": ww.init(li, name="lineitem", logical_types={
                **{c: "Integer" for c in ("l_orderkey", "l_partkey", "l_suppkey",
                                          "l_linenumber")},
                **{c: "Double" for c in self.NUMERIC + ["l_discount", "l_tax"]},
                **{c: "Categorical" for c in self.CATEGORICAL},
                "l_shipdate": "Datetime",
            }, validate=False),
            "events": ww.init(ev, name="events", logical_types={
                "event_id": "Integer", "ts": "Datetime", "user_id": "Integer",
                "event_type": "Categorical", "value": "Double",
                "props": "Categorical",
            }, validate=False),
            "clock": ww.init(clock, name="clock", logical_types={"t": "Datetime"},
                             validate=False),
        }
        self.typed = typed

    def plan(self, rng):
        li, ev, clock = self.typed["lineitem"], self.typed["events"], self.typed["clock"]
        exp = self.expected
        dep_frame = li[self.NUMERIC + ["l_returnflag"]]

        def check_describe(d):
            for c, want in exp["describe"].items():
                got = d.get(c)
                expect(got is not None, f"describe lacks {c}")
                for k, v in want.items():
                    expect(close(got.get(k), v), f"describe {c}.{k} {got.get(k)} != {v}")

        def check_value_counts(res):
            for c, want in exp["value_counts"].items():
                got = {r["value"]: r["count"] for r in res[c]}
                expect(got == want, f"value_counts {c} {got} != {want}")

        def check_value_counts_events(res):
            got = {r["value"]: r["count"] for r in res["event_type"]}
            expect(got == exp["value_counts_events"], f"value_counts event_type {got}")

        def pairs_close(df, col, want):
            n = 0
            for r in df.itertuples():
                if r.column_1 in want.index and r.column_2 in want.columns:
                    expect(close(getattr(r, col), want.loc[r.column_1, r.column_2],
                                 rel=1e-6, abs_=1e-9),
                           f"{col} {r.column_1},{r.column_2} {getattr(r, col)}")
                    n += 1
            expect(n == len(self.NUMERIC) * (len(self.NUMERIC) - 1) // 2,
                   f"{col}: {n} numeric pairs")

        def check_dependence(df):
            pairs_close(df, "pearson", exp["pearson"])
            pairs_close(df, "spearman", exp["spearman"])
            mi = df["mutual_info"].dropna()
            expect(len(mi) > 0 and mi.between(-1, 1).all(),
                   f"mutual_info out of [-1, 1]: {list(mi)}")

        def check_box_plot(res):
            got = [res["quantiles"][q] for q in (0.0, 0.25, 0.5, 0.75, 1.0)]
            expect(all(close(a, b) for a, b in zip(got, exp["box_plot"])),
                   f"box_plot quantiles {got} != {list(exp['box_plot'])}")

        def check_medcouple(res):
            mc = res["medcouple_stat"]
            expect(-1 <= mc <= 1, f"medcouple {mc}")
            q = res["quantiles"]
            got = [q[k] for k in (0.0, 0.25, 0.5, 0.75, 1.0)]
            expect(all(close(a, b) for a, b in zip(got, exp["value_quantiles"])),
                   f"medcouple quantiles {got}")

        def check_outliers(res):
            lo, hi = res["low_bound"], res["high_bound"]
            vmin, vmax = exp["value_quantiles"][0], exp["value_quantiles"][-1]
            expect(vmin <= lo <= hi <= vmax, f"outlier bounds {lo}, {hi}")
            expect(all(v > hi for v in res["high_values"]), "high outliers")
            expect(all(v < lo for v in res["low_values"]), "low outliers")

        def check_freq(res):
            expect(res == {"t": exp["clock_freq"]}, f"frequency {res}")

        def check_freq_events(res):
            expect(res == {"ts": None}, f"events frequency {res}")

        ops = [
            Op("describe:lineitem", "statistics", "describe_dict",
               lambda: li.describe_dict(), check_describe),
            Op("value_counts:lineitem", "statistics", "value_counts",
               lambda: li.value_counts(), check_value_counts),
            Op("value_counts:events", "statistics", "value_counts",
               lambda: ev.value_counts(), check_value_counts_events),
            Op("dependence:lineitem", "statistics", "dependence",
               lambda: dep_frame.dependence(
                   measures=["pearson", "spearman", "mutual_info"]),
               check_dependence),
            Op("box_plot:l_extendedprice", "statistics", "box_plot_dict",
               lambda: li.box_plot_dict("l_extendedprice"), check_box_plot),
            Op("medcouple:value", "statistics", "medcouple_dict",
               lambda: ev.medcouple_dict("value"), check_medcouple),
            Op("get_outliers:value", "statistics", "get_outliers",
               lambda: ev.get_outliers("value"), check_outliers),
            Op("frequency:clock", "statistics", "infer_temporal_frequencies",
               lambda: clock.infer_temporal_frequencies(), check_freq),
            Op("frequency:events", "statistics", "infer_temporal_frequencies",
               lambda: ev.infer_temporal_frequencies(), check_freq_events),
        ]
        rng.shuffle(ops)
        return ops


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-free canonical form of a result, as tests/test_oracle_parity.py
    compares Spark results with their DuckDB oracles."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            try:
                df[c] = pd.to_numeric(s)
                if pd.api.types.is_float_dtype(df[c]):
                    df[c] = df[c].round(6)
            except (ValueError, TypeError):
                df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def write_oracle(views: dict, sql: dict, out: str):
    """Run each query's DuckDB oracle over the parquet files ``views``
    names and pickle the normalised results to ``out``."""
    import duckdb

    con = duckdb.connect()
    for t, path in views.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    expected = {q: normalize(con.sql(text).df()) for q, text in sql.items()}
    con.close()
    os.makedirs(os.path.dirname(out), exist_ok=True)
    partial = f"{out}.{os.getpid()}"
    pd.to_pickle(expected, partial)
    os.replace(partial, out)


class IngestProfile(Workload):
    """An Ingest pass, then a Profile pass, each in seed order.  One
    workload, so a run's time budget goes to timing several passes."""

    sf = 0.001
    warmup_passes = 1
    pass_s = 9.0

    def __init__(self, *a):
        super().__init__(*a)
        self.ingest = Ingest(*a)
        self.profile = Profile(*a)

    def prepare(self):
        self.ingest.prepare()
        self.profile.prepare()

    def plan(self, rng):
        return self.ingest.plan(rng) + self.profile.plan(rng)

    def extra_layer_metrics(self):
        return self.ingest.extra_layer_metrics()


class Queries(Workload):
    """Driver-registry queries, built and collected, in seed order."""

    sf = 0.001
    warmup_passes = 1
    pass_s = 9.0

    def __init__(self, *a):
        super().__init__(*a)
        import __spark_entry__ as entry

        self.registry = entry.queries()
        self.expected = self._oracle(entry.oracle_sql())

    def _oracle(self, oracles):
        """The DuckDB results, normalised.  They depend only on the table
        files, the oracle SQL and the DuckDB version, so the first run in
        a checkout computes them and later runs read them back: the
        leak_split oracle alone takes about 5 s.  DuckDB runs in a child
        process, so its memory never counts in the driver's peak RSS."""
        from importlib.metadata import version

        key = hashlib.sha256(version("duckdb").encode())
        for t in sorted(self.tables):
            with open(self.path(t), "rb") as f:
                key.update(f.read())
        sql = {q: oracles[q] for q in QUERIES}
        for q in QUERIES:
            key.update(sql[q].encode())
        cached = os.path.join(ORACLE_CACHE, f"queries-{key.hexdigest()[:16]}.pkl")
        if not os.path.exists(cached):
            spec = os.path.join(self.work_dir, "oracle.json")
            with open(spec, "w") as f:
                json.dump({"views": {t: self.path(t) for t in self.tables},
                           "sql": sql, "out": cached}, f)
            subprocess.run([sys.executable, os.path.abspath(__file__), spec],
                           check=True, timeout=120)
        return pd.read_pickle(cached)

    def plan(self, rng):
        ops = []
        order = list(QUERIES)
        rng.shuffle(order)
        for q in order:
            built = {}

            def build(q=q, built=built):
                built["df"] = self.registry[q](self.spark, self.data_dir)

            def collect(built=built):
                df = built["df"]
                return df.columns, df.collect()

            def check(res, q=q):
                cols, rows = res
                got = normalize(pd.DataFrame.from_records(
                    [tuple(r) for r in rows], columns=cols))
                want = self.expected[q]
                expect(list(got.columns) == list(want.columns),
                       f"{q} columns {list(got.columns)}")
                expect(len(got) == len(want), f"{q} rows {len(got)} != {len(want)}")
                try:
                    pd.testing.assert_frame_equal(
                        got, want, check_dtype=False, check_exact=False,
                        rtol=0, atol=1e-9)
                except AssertionError as e:
                    raise CheckFailed(f"{q} values differ: {str(e)[:200]}") from e

            ops.append(Op(f"build:{q}", "operators", "build", build, lambda _: None))
            ops.append(Op(f"collect:{q}", "operators", "collect", collect, check))
        return ops


WORKLOADS = {"ingest_profile": IngestProfile, "queries": Queries}


if __name__ == "__main__":
    # python3 workloads.py SPEC: the queries oracle, in a child process
    with open(sys.argv[1]) as f:
        write_oracle(**json.load(f))
