"""The benchmark's workloads, each a list of calls made one at a time.

A call has a ``build`` that returns a lazy DataFrame (executed by
``count()``) or ``None`` when the build itself is the work (an ETL
step). The ``layer`` names the per-layer time metric the call's wall
time also feeds, if any.

A workload generates its inputs when it is created, before the JVM
starts. Between passes it may reset its outputs (``begin_pass``) and
check them (``check_pass``); after the last pass, ``final_checks``
checks outputs by query.
"""

from __future__ import annotations

import asyncio
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import datagen

# Scan/join/aggregate/window queries that run in the JVM only, among
# them the paper's compounded-returns pair and gini, whose build does
# driver-side dispatch.
RELATIONAL = (
    "q1_pricing_summary",
    "top_orders_by_revenue",
    "events_sessionization",
    "weekly_compound_by_user",
    "compound_evolution_by_user",
    "window_analytic_suite",
    "asof_last_purchase",
    "gini_revenue_concentration",
)

# Queries whose time goes to mapInPandas kernels and driver closes.
KERNELS = (
    "dedup_simhash",
    "pq_adc_rerank_topk",
    "image_phash_ahash",
    "audio_wav_features",
)

# Scale factor of the generated star schema. It is set by the run-time
# budget: the whole benchmark (48 runs, each paying a cold JVM launch and
# a first pass) must end within an hour, which leaves about 10 s of
# timed passes per run. At sf0.01 a pass takes 3-7 s on a 4-core host;
# sf0.1 took over 20 s for a larger mix. Kernel calls still run 8-25x
# longer on executors than on CPU, JVM-only calls about 1x.
SCALE = 0.01


@dataclass
class Call:
    name: str
    build: Callable[[], DataFrame | None]
    layer: str | None = None
    registry: bool = False  # checked against its DuckDB oracle
    movable: bool = True  # False: a step of the ETL chain, kept in order
    kernel: bool = False  # a Python-kernel query (feeds kernels.*)


@dataclass
class PassState:
    """What one ETL pass wrote, for the checks made after it."""

    index: int
    root: str
    values: dict = field(default_factory=dict)


class Workload:
    """Interface of a workload, with the no-op defaults of one that
    writes nothing."""

    def __init__(self, spark_ref, work: str, seed: int):
        self.spark_ref = spark_ref  # callable returning the live session
        self.work = work
        self.seed = seed
        self.data_dir = os.path.join(work, "data")

    def calls(self, specs) -> list[Call]:
        """The calls of one pass; ``specs`` is the loaded registry."""
        raise NotImplementedError

    def begin_pass(self, index: int) -> None:
        pass

    def check_pass(self) -> list[str]:
        return []

    def final_checks(self) -> dict[str, list[str]]:
        """Check name -> its failures."""
        return {}

    def pass_layers(self) -> dict[str, float]:
        return {}


class Queries(Workload):
    """Registry queries over the generated star schema; their rows are
    checked against the DuckDB oracle by the runner."""

    def __init__(self, spark_ref, work: str, seed: int):
        super().__init__(spark_ref, work, seed)
        self.rows = datagen.write_tables(self.data_dir, seed, SCALE)

    def calls(self, specs) -> list[Call]:
        return [self._call(specs[n]) for n in RELATIONAL + KERNELS]

    def _call(self, spec) -> Call:
        return Call(
            spec.name,
            lambda: spec.builder(self.spark_ref(), self.data_dir),
            registry=True,
            kernel=spec.name in KERNELS,
        )


class EtlIngest(Workload):
    """The footprint ETL chain, then the market-returns views. Each pass
    writes into fresh directories."""

    def __init__(self, spark_ref, work: str, seed: int):
        super().__init__(spark_ref, work, seed)
        self.state: PassState | None = None
        self.rows = self._inputs()

    # -------------------------------------------------------------- ETL

    def _inputs(self) -> dict[str, int]:
        fp = datagen.footprint_inputs(self.seed)
        self.payloads = fp["payloads"]
        self.n_records = sum(len(v) for v in self.payloads.values())
        inputs = os.path.join(self.work, "inputs")
        self.upsert_path = os.path.join(
            inputs, "upsert", f"data_all_{fp['upsert_year']}.json"
        )
        self.merge_path = os.path.join(inputs, "merge", "updates.json")
        datagen.write_json(fp["upsert_records"], self.upsert_path)
        datagen.write_json(fp["merge_records"], self.merge_path)
        self.upsert_year = fp["upsert_year"]
        self.upsert_carbon = sum(r["carbon"] or 0.0 for r in fp["upsert_records"])
        self.merged = {
            (r["year"], r["countryCode"], r["record"]): r["carbon"]
            for r in fp["merge_records"]
        }
        self.market_csv = os.path.join(inputs, "market.csv")
        market_rows = datagen.write_market_csv(self.market_csv, self.seed, n_funds=25)
        return {"footprint": self.n_records, "market": market_rows}

    def begin_pass(self, index: int) -> None:
        """Fresh output directories for the next pass; the previous
        pass's are removed first (outside any timing)."""
        from aws_etl_global_footprint_network_spark.operators.ingestion import (
            drop_table_and_location,
        )

        if self.state is not None:
            drop_table_and_location(self.spark_ref(), self._table(self.state))
            shutil.rmtree(self.state.root, ignore_errors=True)
        root = os.path.join(self.work, "etl", f"pass{index}")
        os.makedirs(root)
        self.state = PassState(index, root)

    @staticmethod
    def _table(state: PassState) -> str:
        return f"carbon_footprint_p{state.index}"

    def calls(self, specs) -> list[Call]:
        from aws_etl_global_footprint_network_spark.operators import ingestion
        from aws_etl_global_footprint_network_spark.operators.mkt_returns import (
            daily_compound_evolution,
            weekly_returns,
        )
        from aws_etl_global_footprint_network_spark.sources.calendar import (
            build_calendar,
        )
        from aws_etl_global_footprint_network_spark.sources.readers import (
            read_market_data,
        )
        from aws_etl_global_footprint_network_spark.sources.rest_extractor import (
            ExtractionConfig,
            extract_all,
        )
        from aws_etl_global_footprint_network_spark.streaming.incremental_ingest import (
            incremental_ingest,
        )

        def raw_dir() -> str:
            return os.path.join(self.state.root, "raw")

        async def fetch(url: str):
            return 200, self.payloads[int(url.rsplit("/", 1)[1])]

        def extract():
            cfg = ExtractionConfig(
                years=tuple(self.payloads),
                output_dir=raw_dir(),
                politeness_s=(0.0, 0.0),
            )
            res = asyncio.run(extract_all(cfg, fetch))
            self.state.values["years_ok"] = len(res.succeeded)
            self.state.values["raw_bytes"] = _tree_bytes(raw_dir())

        def load():
            res = ingestion.run_pipeline(
                self.spark_ref(),
                os.path.join(raw_dir(), "data_all_*.json"),
                self._table(self.state),
            )
            self.state.values["row_count"] = res.row_count if res else -1
            self.state.values["files_after_load"] = self._partition_files()
            self.state.values["table_bytes"] = _tree_bytes(self._table_dir())

        def upsert():
            df = ingestion.extract_and_transform(self.spark_ref(), self.upsert_path)
            ingestion.upsert_partitions(df, self._table(self.state))
            self.state.values["files_after_upsert"] = self._partition_files()

        def merge():
            df = ingestion.extract_and_transform(self.spark_ref(), self.merge_path)
            ingestion.merge_rowlevel(df, self._table(self.state), "country_code", "year")
            self.state.values["files_after_merge"] = self._partition_files()

        def incremental():
            out = os.path.join(self.state.root, "incremental")
            self.state.values["batches"] = incremental_ingest(
                self.spark_ref(), raw_dir(), out, out + "_checkpoint"
            )

        def market():
            spark = self.spark_ref()
            cal = build_calendar(spark, "2020-12-01", "2025-01-31")
            return read_market_data(spark, self.market_csv), cal

        calls = [
            Call("extract_all", extract, "sources.extract_s", movable=False),
            Call("run_pipeline", load, "ingestion.load_s", movable=False),
            Call("upsert_partitions", upsert, "ingestion.upsert_s", movable=False),
            Call("merge_rowlevel", merge, "ingestion.merge_s", movable=False),
            Call("incremental_ingest", incremental, "streaming.ingest_s", movable=False),
        ]
        calls += [
            Call("weekly_returns", lambda: weekly_returns(*market()), "mkt_returns.weekly_s"),
            Call(
                "daily_compound_evolution",
                lambda: daily_compound_evolution(*market()),
                "mkt_returns.evolution_s",
            ),
        ]
        return calls

    def _table_dir(self) -> str:
        wh = self.spark_ref().conf.get("spark.sql.warehouse.dir")
        return os.path.join(wh.removeprefix("file:"), self._table(self.state))

    def _partition_files(self) -> dict[str, frozenset]:
        """Partition directory -> its data file names (new files are
        written under new names, so a rewrite changes the set)."""
        loc = self._table_dir()
        out = {}
        for d in sorted(os.listdir(loc)):
            if d.startswith("year="):
                out[d] = frozenset(
                    f for f in os.listdir(os.path.join(loc, d)) if f.endswith(".parquet")
                )
        return out

    # ----------------------------------------------------------- checks

    def check_pass(self) -> list[str]:
        """Checks of the pass that just ran, from what its steps
        returned; one message per failed check."""
        v = self.state.values
        problems = []
        if v.get("years_ok") != len(self.payloads):
            problems.append(f"extract_all: {v.get('years_ok')} of {len(self.payloads)} years")
        if v.get("row_count") != self.n_records:
            problems.append(f"run_pipeline: row_count {v.get('row_count')} != {self.n_records}")
        return problems

    def final_checks(self) -> dict[str, list[str]]:
        return {"tables": self._check_tables(), "mkt_returns": self._check_mkt_returns()}

    def _check_tables(self) -> list[str]:
        """The last pass's tables, by query: the row count after upsert
        and merge, the upserted year's contents, the merged keys and the
        incremental sink."""
        from aws_etl_global_footprint_network_spark.streaming.incremental_ingest import (
            read_warehouse,
        )

        spark = self.spark_ref()
        problems = []
        t = spark.table(self._table(self.state))
        n = t.count()
        if n != self.n_records:
            problems.append(f"table holds {n} rows after merge, expected {self.n_records}")
        got = t.filter(F.col("year") == self.upsert_year).agg(F.sum("carbon")).first()[0]
        if not math.isclose(got or 0.0, self.upsert_carbon, rel_tol=1e-9):
            problems.append(f"upsert_partitions: year {self.upsert_year} carbon {got}")
        years = sorted({k[0] for k in self.merged})
        rows = (
            t.filter(F.col("year").isin(years))
            .select("year", "country_code", "record", "carbon")
            .collect()
        )
        have = {(r[0], r[1], r[2]): r[3] for r in rows}
        missing = [k for k, c in self.merged.items() if k not in have or have[k] != c]
        if missing:
            problems.append(f"merge_rowlevel: {len(missing)} merged keys absent, e.g. {missing[0]}")
        inc = read_warehouse(spark, os.path.join(self.state.root, "incremental")).count()
        if inc != self.n_records:
            problems.append(f"incremental_ingest: {inc} rows, expected {self.n_records}")
        return problems

    def _check_mkt_returns(self) -> list[str]:
        """The window form's last row of each week equals the aggregate
        form's weekly return, and both cover every working-day row."""
        from aws_etl_global_footprint_network_spark.operators.mkt_returns import (
            daily_compound_evolution,
            weekly_returns,
        )
        from aws_etl_global_footprint_network_spark.sources.calendar import (
            build_calendar,
        )
        from aws_etl_global_footprint_network_spark.sources.readers import (
            read_market_data,
        )

        spark = self.spark_ref()
        market = read_market_data(spark, self.market_csv)
        cal = build_calendar(spark, "2020-12-01", "2025-01-31")
        keys = ["FUND_CODE", "RETURN_TYPE", "YEAR_WEEK"]
        last = (
            daily_compound_evolution(market, cal)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy(*keys).orderBy(F.col("MARKET_DATE").desc())
                ),
            )
            .filter("rn = 1")
            .select(*keys, "DAILY_COMPOUND_EVOLUTION")
        )
        weekly = weekly_returns(market, cal)
        n_weekly = weekly.count()
        weeks = weekly.select(*keys, "WEEKLY_RETURN").distinct()
        joined = last.join(weeks, keys, "full_outer")
        bad = joined.filter(
            F.col("WEEKLY_RETURN").isNull()
            | F.col("DAILY_COMPOUND_EVOLUTION").isNull()
            | (
                F.abs(F.col("WEEKLY_RETURN") - F.col("DAILY_COMPOUND_EVOLUTION"))
                > 1e-12 * F.greatest(F.lit(1.0), F.abs(F.col("WEEKLY_RETURN")))
            )
        ).count()
        working = market.filter(F.dayofweek("MARKET_DATE").between(2, 6)).count()
        problems = []
        if bad:
            problems.append(f"mkt_returns: {bad} weeks where the window form != weekly_returns")
        if n_weekly != working:
            problems.append(f"weekly_returns: {n_weekly} rows, expected {working}")
        return problems

    # ----------------------------------------------------------- layers

    def pass_layers(self) -> dict[str, float]:
        """Per-layer values only the pass's outputs can give."""
        v = self.state.values
        keys = ("years_ok", "raw_bytes", "table_bytes", "files_after_load",
                "files_after_upsert", "files_after_merge")
        if any(k not in v for k in keys):
            return {}  # a step failed; the failure is already counted
        load, ups, mrg = (
            v["files_after_load"], v["files_after_upsert"], v["files_after_merge"]
        )
        rewritten = {p for p in load if ups.get(p) != load[p]}
        rewritten |= {p for p in ups if mrg.get(p) != ups[p]}
        return {
            "sources.years_ok_ratio": v["years_ok"] / len(self.payloads),
            "ingestion.bytes_written_per_input_byte": v["table_bytes"] / v["raw_bytes"],
            "ingestion.partitions_rewritten_ratio": len(rewritten) / len(load),
        }


WORKLOADS = {"queries": Queries, "etl_ingest": EtlIngest}


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
